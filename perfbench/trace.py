"""Spans around the engine's layer boundaries, plus the executor work
Spark's status store records for each span's jobs.

Only the traced run installs any of this. ``Tracer.install`` replaces
module-level names that the engine's entry points look up at call time
(``plans.sync.plan_sync``, ``sources.versioned.table_history``, ...)
with wrappers that record a span and tag the span's Spark jobs with
``SparkContext.setJobGroup``. After each operation ``Tracer.collect``
reads the jobs, stages and tasks of that operation from the status
store right away: the store keeps only ``spark.ui.retainedJobs`` /
``retainedStages`` entries, and a long run goes past them. The store is
filled with ``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import importlib
import json
import time

from perfbench import stats

PKG = "pyspark_unload_to_gcs_spark"

# (module, attribute, span name). The attribute is patched in the module
# whose globals the caller resolves it from: run_sync finds plan_sync,
# load_table, row_count_guard, content_hash and write_export in
# plans.sync, but imports write_manifest from sinks.writers at call time.
TRACED_NAMES = (
    ("plans.sync", "load_table", "sources.load_table"),
    ("sources.catalog", "load_table", "sources.load_table"),
    ("plans.sync", "current_timestamp_ms", "sources.current_timestamp_ms"),
    ("sources.versioned", "commit_version", "sources.commit_version"),
    ("sources.versioned", "table_history", "sources.table_history"),
    ("sources.versioned", "change_feed", "sources.change_feed"),
    ("plans.sync", "plan_sync", "plans.plan_sync"),
    ("plans.sync", "row_count_guard", "operators.row_count_guard"),
    ("plans.sync", "content_hash", "operators.content_hash"),
    ("plans.sync", "latest_per_group", "operators.latest_per_group"),
    ("plans.sync", "time_window_filter", "operators.time_window_filter"),
    ("plans.sync", "write_export", "sinks.write_export"),
    ("sinks.writers", "write_manifest", "sinks.write_manifest"),
    ("sinks.writers", "validate_manifest", "sinks.validate_manifest"),
)

LAYERS = ("sources", "plans", "operators", "sinks")


@dataclasses.dataclass
class Span:
    id: int
    name: str
    op: int  # id of the top-level operation span this one belongs to
    parent: int | None
    start: float  # epoch seconds, comparable with the status store's ms
    end: float = 0.0


@dataclasses.dataclass
class Stage:
    span: int
    op: int
    start: float
    end: float
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_b: int
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int
    task_s: list[float]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stages: list[Stage] = []
        self.jobs: dict[int, int] = {}  # op span id -> jobs started
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self._last_job = -1
        self._store = None
        self._mapper = None

    # -- spans ---------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            op=parent.op if parent else len(self.spans),
            parent=parent.id if parent else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, span_name in TRACED_NAMES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            self._patched.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, span_name))

    def uninstall(self) -> None:
        while self._patched:
            mod, attr, fn = self._patched.pop()
            setattr(mod, attr, fn)

    # -- status store --------------------------------------------------

    def _json(self, obj):
        if self._mapper is None:
            jvm = self.spark.sparkContext._jvm
            scala_module = getattr(
                jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
            ).__getattr__("MODULE$")
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
                scala_module
            )
        return json.loads(self._mapper.writeValueAsString(obj))

    def mark(self) -> None:
        """Skip every job started so far (set-up and warm-up)."""
        self._store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = self._json(self._store.jobsList(None))
        self._last_job = max((j["jobId"] for j in jobs), default=-1)

    def collect(self, op: Span) -> None:
        """Attribute the jobs started since the last call to the spans
        whose job group they carry; jobs without a known group go to
        ``op``. Call right after each operation."""
        jobs = [j for j in self._json(self._store.jobsList(None)) if j["jobId"] > self._last_job]
        if not jobs:
            return
        self._last_job = max(j["jobId"] for j in jobs)
        by_id = {s.id: s for s in self.spans[op.id :]}
        seen: set[int] = set()
        self.jobs[op.id] = self.jobs.get(op.id, 0) + len(jobs)
        for job in jobs:
            group = job.get("jobGroup") or ""
            sid = int(group.rsplit("-", 1)[1]) if group.startswith("perfbench-") else op.id
            span = by_id.get(sid, op)
            for stage_id in job["stageIds"]:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                stage = self._stage(stage_id, span)
                if stage is not None:
                    self.stages.append(stage)

    def _stage(self, stage_id: int, span: Span) -> Stage | None:
        try:
            jstage = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - evicted or never submitted
            return None
        st = self._json(jstage)
        if not st.get("numCompleteTasks") or not st.get("submissionTime"):
            return None  # skipped stage: its output was reused
        tasks = self._json(self._store.taskList(stage_id, st["attemptId"], 1 << 30))
        return Stage(
            span=span.id,
            op=span.op,
            start=st["submissionTime"] / 1000.0,
            end=(st.get("completionTime") or st["submissionTime"]) / 1000.0,
            tasks=int(st["numTasks"]),
            run_s=st["executorRunTime"] / 1000.0,
            cpu_s=st["executorCpuTime"] / 1e9,
            gc_s=st["jvmGcTime"] / 1000.0,
            input_b=int(st["inputBytes"]),
            shuffle_read_b=int(st["shuffleReadBytes"]),
            shuffle_write_b=int(st["shuffleWriteBytes"]),
            spill_b=int(st["diskBytesSpilled"]),
            task_s=[t["duration"] / 1000.0 for t in tasks if t.get("duration") is not None],
        )

    # -- per-layer metrics ---------------------------------------------

    def layer_metrics(self, op_ids: set[int], cores: int) -> dict[str, float]:
        """Per span name: the sum over the timed ops and the median over
        the ops that entered the span (``.p50``); executor metrics from
        the stages of those ops."""
        spans = [s for s in self.spans if s.op in op_ids]
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        per_op: dict[str, dict[int, float]] = {}
        for s in spans:
            d = s.end - s.start
            per_op.setdefault(f"{s.name}_s", {}).setdefault(s.op, 0.0)
            per_op[f"{s.name}_s"][s.op] += d
            if s.name in ("plans.plan_sync", "plans.run_sync"):
                key = f"{s.name}_self_s"
                per_op.setdefault(key, {}).setdefault(s.op, 0.0)
                per_op[key][s.op] += stats.self_time(s.start, s.end, children.get(s.id, []))
        out: dict[str, float] = {}
        for key, by_op in per_op.items():
            out[key] = sum(by_op.values())
            out[f"{key}.p50"] = stats.median(list(by_op.values()))

        stages = [st for st in self.stages if st.op in op_ids]
        ops = [s for s in spans if s.id == s.op]
        wall = sum(s.end - s.start for s in ops)
        # driver overhead: the part of each op during which none of its
        # stages was running
        overhead = [
            stats.self_time(s.start, s.end, [(st.start, st.end) for st in stages if st.op == s.id])
            for s in ops
        ]
        out["driver_overhead_s"] = sum(overhead)
        out["driver_overhead_s.p50"] = stats.median(overhead)
        run_s = sum(st.run_s for st in stages)
        out["exec.run_s"] = run_s
        # executor time by the layer of the innermost span that started it
        names = {s.id: s.name for s in spans}
        for layer in LAYERS:
            out[f"exec.run_s.{layer}"] = sum(
                st.run_s for st in stages if names[st.span].split(".")[0] == layer
            )
        out["exec.cpu_s"] = sum(st.cpu_s for st in stages)
        out["exec.gc_s"] = sum(st.gc_s for st in stages)
        out["exec.tasks"] = float(sum(st.tasks for st in stages))
        out["exec.core_util"] = run_s / (wall * cores) if wall > 0 else 0.0
        mb = 1024.0 * 1024.0
        out["exec.input_mb"] = sum(st.input_b for st in stages) / mb
        out["exec.shuffle_read_mb"] = sum(st.shuffle_read_b for st in stages) / mb
        out["exec.shuffle_write_mb"] = sum(st.shuffle_write_b for st in stages) / mb
        out["exec.spill_mb"] = sum(st.spill_b for st in stages) / mb
        # straggler ratio of each op's heaviest stage, median over ops
        ratios = []
        for s in ops:
            mine = [st for st in stages if st.op == s.id and st.task_s]
            if mine:
                heavy = max(mine, key=lambda st: st.run_s)
                ratios.append(stats.max_over_median(heavy.task_s))
        out["exec.task_max_over_median"] = stats.median(ratios)
        return out
