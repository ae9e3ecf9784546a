"""The benchmark's own arithmetic: per-operation medians and worst
cases, self time, driver overhead from overlapping stage intervals, and
failure accounting.
Runs without Spark: ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import contextlib
import time

import pytest

from perfbench import stats
from perfbench.run import Record, Recorder, end_to_end, per_layer
from perfbench.trace import Span, Stage, Tracer


def test_across_names_weighs_every_operation_name_equally():
    samples = [("a", 1.0), ("b", 4.0), ("a", 3.0), ("b", 16.0), ("a", 2.0)]
    assert stats.per_name(samples, len) == {"a": 3.0, "b": 2.0}
    # medians a=2, b=10; worst a=3, b=16
    assert stats.across_names(samples, stats.median) == pytest.approx((2.0 * 10.0) ** 0.5)
    assert stats.across_names(samples, max) == pytest.approx((3.0 * 16.0) ** 0.5)
    assert stats.across_names([], max) == 0.0


def test_a_slower_minority_operation_moves_the_summary():
    fast = [("x", 1.0), ("y", 1.1), ("z", 5.0)] * 3
    slow = [("x", 1.0), ("y", 1.1), ("z", 7.5)] * 3
    # the plain median over all samples (1.1) cannot see z
    assert stats.median([v for _n, v in fast]) == stats.median([v for _n, v in slow])
    ratio = stats.across_names(slow, stats.median) / stats.across_names(fast, stats.median)
    assert ratio == pytest.approx(1.5 ** (1 / 3))


def test_union_merges_overlaps_and_ignores_empty_intervals():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (4, 4), (5.5, 5.8)]) == 4.0


def test_self_time_subtracts_overlapping_children_once():
    # children cover [1, 4] and [6, 7] of the span [0, 10]; [12, 13] lies outside
    assert stats.self_time(0, 10, [(1, 3), (2, 4), (6, 7), (12, 13)]) == 6.0


def test_driver_overhead_clips_overlapping_stages_to_the_op():
    # stage intervals overlap each other and spill past both ends of the op
    assert stats.self_time(10, 20, [(9, 12), (11, 14), (18, 25)]) == pytest.approx(4.0)


def test_failed_frac_counts_raised_and_wrong_over_attempted():
    assert stats.failed_frac(10, 1, 2) == pytest.approx(0.3)
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0, 0)


class _Workload:
    """Pass: one op that succeeds, one whose check fails, one that raises."""

    def __init__(self):
        self.passes = 0

    def run_pass(self, rec):
        self.passes += 1
        with rec.op("ok") as op:
            op.rows = 10
        with rec.op("wrong") as op:
            op.rows = 5
        with rec.check():
            raise AssertionError("wrong output")
        with rec.op("boom"):
            raise RuntimeError("failed op")


def test_recorder_counts_every_attempt_and_failure(capsys):
    rec = Recorder()
    wl = _Workload()
    passes = rec.run_region(wl, seconds=0.0)  # exactly one pass
    assert wl.passes == 1
    assert (rec.attempted, rec.raised, rec.wrong) == (3, 1, 1)
    assert stats.failed_frac(rec.attempted, rec.raised, rec.wrong) == pytest.approx(2 / 3)
    # a pass that raised is left out of the timings
    assert passes == []
    assert [r.name for r in rec.current] == ["ok", "wrong"]


class _FakeTracer:
    def __init__(self):
        self.collected = []

    @contextlib.contextmanager
    def span(self, name):
        yield name

    def collect(self, span):
        self.collected.append(span)


def test_a_failed_operation_still_has_its_jobs_collected():
    rec = Recorder()
    rec.tracer = _FakeTracer()
    with pytest.raises(RuntimeError):
        with rec.op("boom"):
            raise RuntimeError("failed op")
    assert rec.tracer.collected == ["boom"]
    assert rec.raised == 1


def test_own_work_is_timed_apart_and_checks_count_as_own_work():
    rec = Recorder()
    with rec.own():
        time.sleep(0.01)
    with rec.check():
        time.sleep(0.01)
        raise AssertionError("wrong output")
    assert rec.own_s >= 0.02
    assert (rec.wrong, rec.attempted) == (1, 0)


def _pass(latencies, rows=100):
    out = [Record(f"q{i}", "op", seconds=s, rows=rows) for i, s in enumerate(latencies)]
    return out + [Record("commit", "step", seconds=1.0)]


def test_end_to_end_metrics_from_passes():
    passes = [_pass([0.1, 0.2]), _pass([0.5, 0.6]), _pass([0.3, 1.2])]
    metrics, info = end_to_end(passes, setup_s=5.0, rss=100.0)
    assert metrics["wall_s"] == (pytest.approx(1.0 + 1.1), "s")  # middle pass + its step
    # q0: 0.1 0.5 0.3, q1: 0.2 0.6 1.2
    assert metrics["op_s.p50"][0] == pytest.approx((0.3 * 0.6) ** 0.5)
    assert metrics["rows_per_s"][0] == pytest.approx(200 / 1.1)  # median over passes
    assert info["samples_by_name"] == {"q0": 3, "q1": 3}
    assert info["max_by_name"] == {"q0": 0.5, "q1": 1.2, "commit": 1.0}


def test_layer_metrics_attribute_stages_to_their_op():
    tracer = Tracer(spark=None)
    # op 0: run_sync [0, 10] with plan_sync [1, 3] (child load_table [1, 2])
    # and write_export [4, 9]
    tracer.spans = [
        Span(0, "plans.run_sync", 0, None, 0.0, 10.0),
        Span(1, "plans.plan_sync", 0, 0, 1.0, 3.0),
        Span(2, "sources.load_table", 0, 1, 1.0, 2.0),
        Span(3, "sinks.write_export", 0, 0, 4.0, 9.0),
        Span(4, "plans.run_sync", 4, None, 20.0, 22.0),
    ]
    tracer.jobs = {0: 3, 4: 1}

    def stage(span, op, start, end, run_s, tasks):
        return Stage(span, op, start, end, len(tasks), run_s, run_s / 2, 0.0, 0, 0, 0, 0, tasks)

    tracer.stages = [
        stage(3, 0, 4.0, 7.0, 6.0, [1.0, 1.0, 4.0]),
        stage(2, 0, 6.0, 8.0, 2.0, [1.0, 1.0]),
        stage(4, 4, 20.5, 21.0, 0.5, [0.5]),
    ]
    raw = tracer.layer_metrics({0, 4}, cores=2)
    assert raw["plans.run_sync_s"] == pytest.approx(12.0)
    assert raw["plans.run_sync_s.p50"] == pytest.approx(6.0)
    assert raw["plans.run_sync_self_s"] == pytest.approx((10 - 7) + 2)
    assert raw["plans.plan_sync_self_s"] == pytest.approx(1.0)
    # op 0: stages cover [4, 8] of [0, 10]; op 4: [20.5, 21] of [20, 22]
    assert raw["driver_overhead_s"] == pytest.approx(6.0 + 1.5)
    assert raw["exec.run_s"] == pytest.approx(8.5)
    # by the layer of the span that started each stage's job
    assert (raw["exec.run_s.sinks"], raw["exec.run_s.sources"]) == (6.0, 2.0)
    assert (raw["exec.run_s.plans"], raw["exec.run_s.operators"]) == (0.5, 0.0)
    assert raw["exec.core_util"] == pytest.approx(8.5 / (12.0 * 2))
    # heaviest stage of op 0 has tasks 1, 1, 4 -> 4; op 4 -> 1; median 2.5
    assert raw["exec.task_max_over_median"] == pytest.approx(2.5)


def test_per_layer_reports_every_listed_metric_with_zeros_for_absent_spans():
    import json
    import os

    tracer = Tracer(spark=None)
    tracer.spans = [Span(0, "operators.cosine_topk", 0, None, 0.0, 1.0)]
    op = Record("operators.cosine_topk", "op", seconds=1.0, rows=10, span=tracer.spans[0])
    metrics = per_layer(tracer, [[op]], 0.9, cores=4, get_spark_s=7.0)
    bench = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
    with open(bench) as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert {k: u for k, (_v, u) in metrics.items()} == listed
    assert metrics["operators.cosine_topk_s"][0] == pytest.approx(1.0)
    assert metrics["sinks.write_export_s"][0] == 0.0
    assert metrics["trace.overhead_s"][0] == pytest.approx(0.1)
