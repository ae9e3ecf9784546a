"""Change-data-capture operators.

Parity targets (SURVEY.md §2a S2-S4, §2c P2-P3; reference
export.py:103-128):
- first sync: snapshot-at-timestamp with a literal 'INSERT' change type;
- incremental: change-feed rows with Delta ``_change_type`` mapped to
  the export discriminator ``_mp_change_type``.

Real Delta CDF requires delta-spark, which is optional here: the
mapping/planning logic is Delta-independent and tested on in-memory
frames; ``sources/delta.py`` wires the actual Delta readers behind an
import guard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CHANGE_TYPE_COLUMN = "_change_type"
EXPORT_CHANGE_TYPE_COLUMN = "_mp_change_type"
INSERT = "INSERT"
DELETE = "DELETE"


def change_type_expr(source_col: Column) -> Column:
    """Delta CDF change type -> export discriminator (reference
    export.py:121-126): insert/update_postimage -> INSERT,
    update_preimage -> DELETE, anything else -> DELETE."""
    return (
        F.when(source_col == "update_postimage", F.lit(INSERT))
        .when(source_col == "update_preimage", F.lit(DELETE))
        .when(source_col == "insert", F.lit(INSERT))
        .otherwise(F.lit(DELETE))
    )


def change_type_mapping(
    df: DataFrame,
    source_column: str = CHANGE_TYPE_COLUMN,
    output_column: str = EXPORT_CHANGE_TYPE_COLUMN,
    *,
    drop_source: bool = False,
) -> DataFrame:
    """Append ``_mp_change_type`` derived from a CDF change-type column.

    The output column is prepended (reference emits it first:
    ``SELECT CASE ... END as _mp_change_type, *``).
    """
    mapped = change_type_expr(F.col(source_column))
    out = df.select(mapped.alias(output_column), "*")
    return out.drop(source_column) if drop_source else out


def snapshot_as_inserts(df: DataFrame, output_column: str = EXPORT_CHANGE_TYPE_COLUMN) -> DataFrame:
    """First-sync snapshot: every row is an INSERT (reference
    export.py:112-114, ``SELECT 'INSERT' as _mp_change_type, *``)."""
    return df.select(F.lit(INSERT).alias(output_column), "*")


def apply_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    key_columns: list[str],
    *,
    change_type_column: str = EXPORT_CHANGE_TYPE_COLUMN,
    broadcast_changes: bool = True,
) -> DataFrame:
    """MERGE: apply a change batch in the reference's export model
    (``_mp_change_type`` INSERT/DELETE rows, export.py:114-126) onto a
    snapshot, producing the next snapshot. An update arrives as a
    DELETE(preimage) + INSERT(postimage) pair for the same key, exactly
    what ``snapshot_diff`` (and Delta CDF) emits — so the round-trip
    identity ``apply_changes(old, snapshot_diff(old, new)) == new``
    holds and is oracle-checked (registry ``cdc_apply_changes``).

    Plan (100 TB posture): the change batch of one incremental window is
    tiny relative to the snapshot, so the touched-key set broadcasts
    into a LEFT ANTI join — the snapshot (the big side) is scanned once
    and never shuffled; INSERT rows are unioned in column-aligned. Set
    ``broadcast_changes=False`` for backfill-sized batches, which fall
    back to a shuffled anti-join on the key.
    """
    missing = [c for c in snapshot.columns if c not in changes.columns]
    if missing:
        raise ValueError(f"change batch lacks snapshot columns: {missing}")
    touched = changes.select(*key_columns).distinct()
    if broadcast_changes:
        touched = F.broadcast(touched)
    kept = snapshot.join(touched, on=key_columns, how="left_anti")
    inserts = changes.filter(F.col(change_type_column) == INSERT).select(*snapshot.columns)
    return kept.unionByName(inserts)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_columns: list[str],
    *,
    output_column: str = EXPORT_CHANGE_TYPE_COLUMN,
) -> DataFrame:
    """Engine extension: CDC without a change log — diff two snapshots
    of the same table into the reference's change-row model. An updated
    key emits BOTH a DELETE (old values) and an INSERT (new values),
    exactly like a Delta CDF update_preimage/update_postimage pair
    (reference export.py:121-126); adds/removes emit one row.

    Plan: one full-outer join on the key columns + a row-content hash
    comparison per side (md5 over the name-sorted non-key columns, the
    same fingerprint as operators/hashing.py). One shuffle per side on
    the key; unchanged rows are dropped before the union, so output
    size is O(changes).
    """
    from pyspark_unload_to_gcs_spark.operators.hashing import row_hash_expr

    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    value_cols = [c for c in old.columns if c not in key_columns]

    row_hash = row_hash_expr(value_cols)  # unbound: one build serves both sides
    o = old.withColumn("__h", row_hash).alias("o")
    n = new.withColumn("__h", row_hash).alias("n")
    joined = o.join(n, on=key_columns, how="full_outer")
    o_exists = F.col("o.__h").isNotNull()
    n_exists = F.col("n.__h").isNotNull()
    changed = o_exists & n_exists & (F.col("o.__h") != F.col("n.__h"))

    deletes = joined.filter((o_exists & ~n_exists) | changed).select(
        F.lit(DELETE).alias(output_column),
        *[F.col(c) for c in key_columns],
        *[F.col(f"o.{c}").alias(c) for c in value_cols],
    )
    inserts = joined.filter((~o_exists & n_exists) | changed).select(
        F.lit(INSERT).alias(output_column),
        *[F.col(c) for c in key_columns],
        *[F.col(f"n.{c}").alias(c) for c in value_cols],
    )
    return deletes.unionByName(inserts)
