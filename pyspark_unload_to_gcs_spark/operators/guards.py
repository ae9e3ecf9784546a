"""Pre-export guards (reference A1, export.py:31-46)."""

from __future__ import annotations

from pyspark.sql import DataFrame


class RowCountExceededError(Exception):
    """Raised when a table/plan exceeds the configured export limit."""


def row_count_guard(df: DataFrame, limit: int) -> int:
    """Fail if ``df`` has more than ``limit`` rows; 0/negative disables.

    Returns the observed count (driver-side int; this is a deliberate
    action, same as the reference's ``count(*)`` pre-scan).

    ``run_sync`` does not call this: it counts the rows of its own
    staged write and discards that write when the count is over
    ``validate_row_count``, so a passing sync executes its source plan
    once. This operator is the standalone pre-check, for callers that
    want to refuse before writing anything: it costs a second execution
    of ``df``, bounded by the limit.

    Scale note: unlike the reference — which always runs a full
    ``count(*)`` over the *base table* — this guard counts
    ``df.limit(limit + 1)``, so Spark stops scanning once the limit is
    provably exceeded instead of counting all 100 TB. Counting the
    planned DataFrame (not the raw table) also means the guard measures
    what would actually be exported.
    """
    if limit <= 0:
        return -1
    observed = df.limit(limit + 1).count()
    if observed > limit:
        raise RowCountExceededError(f"Row count {observed}+ exceeds limit {limit}")
    return observed
