"""Pure arithmetic behind the benchmark's metrics (no Spark, no I/O),
kept apart so ``perfbench/tests`` can check it directly."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def geomean(values: Sequence[float]) -> float:
    return float(statistics.geometric_mean(values)) if values else 0.0


def per_name(samples: Iterable[tuple[str, float]], summary) -> dict[str, float]:
    """``summary`` (e.g. ``median`` or ``max``) of the samples of each
    operation name."""
    groups: dict[str, list[float]] = {}
    for name, value in samples:
        groups.setdefault(name, []).append(value)
    return {name: float(summary(vs)) for name, vs in groups.items()}


def across_names(samples: Iterable[tuple[str, float]], summary) -> float:
    """Geometric mean over operation names of each name's ``summary``.
    Every kind of operation counts with the same weight, whatever its
    latency, so a change to any one of them moves the figure."""
    return geomean(list(per_name(samples, summary).values()))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - union_length(clip(children, start, end))


def failed_frac(attempted: int, raised: int, wrong: int) -> float:
    """Operations that raised plus operations whose output was wrong,
    over operations attempted."""
    if attempted <= 0:
        raise ValueError("failed_frac: no operations attempted")
    return (raised + wrong) / attempted


def max_over_median(values: Sequence[float]) -> float:
    """Straggler ratio of one stage's task times (1.0 = balanced)."""
    m = median(values)
    return max(values) / m if values and m > 0 else 0.0
