"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run: write the seeded inputs, start
the engine's Spark session pinned to this host, run one untimed warm-up
pass (set-up) and one or two untimed settling passes (while the JVM's
just-in-time compiler catches up), then run whole passes of the workload
until ``--seconds`` have elapsed, checking every output. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the run's settings and sample counts.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs an
untraced region, then a traced one of the same length, and reports the
per-layer metrics of the traced region plus the tracing overhead (the
traced minus the untraced ``wall_s``).
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import resource
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import LAYERS, Tracer  # noqa: E402

DRIVER_MEM = "1g"

SPAN_METRICS = (
    "sources.load_table",
    "sources.current_timestamp_ms",
    "sources.commit_version",
    "sources.table_history",
    "sources.change_feed",
    "plans.run_sync",
    "plans.run_sync_self",
    "plans.plan_sync",
    "plans.plan_sync_self",
    "operators.row_count_guard",
    "operators.content_hash",
    "operators.latest_per_group",
    "operators.time_window_filter",
    "operators.simhash_dedup",
    "operators.exact_dedup",
    "operators.tfidf_top_terms",
    "operators.cosine_topk",
    "operators.ivf_topk",
    "sinks.write_export",
    "sinks.write_manifest",
    "sinks.validate_manifest",
    "driver_overhead",
)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / sum(delta) if sum(delta) > 0 else 0.0


def _vm_hwm_mib(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclasses.dataclass
class Record:
    name: str
    kind: str  # "op" (a run_sync call or a query) or "step"
    label: str = ""  # finer grouping for the info line, e.g. the sync type
    seconds: float = 0.0
    rows: int = 0
    out_bytes: int = 0
    files: int = 0
    span: object = None


class Recorder:
    """Times each operation of a pass; with a tracer, also opens a
    top-level span per operation and reads the status store right after
    it. Counts operations attempted, raised and with wrong output, and
    the time spent in the benchmark's own work."""

    def __init__(self):
        self.tracer = None
        self.current: list[Record] = []  # records of the pass in progress
        self.attempted = 0
        self.raised = 0
        self.wrong = 0
        self.own_s = 0.0

    @contextlib.contextmanager
    def _timed(self, name: str, kind: str, label: str = ""):
        rec = Record(name, kind, label)
        self.attempted += 1
        span_cm = self.tracer.span(name) if self.tracer else contextlib.nullcontext()
        try:
            with span_cm as span:
                rec.span = span  # set first, so a failed call's jobs are collected too
                t0 = time.perf_counter()
                yield rec
                rec.seconds = time.perf_counter() - t0
        except Exception:
            self.raised += 1
            traceback.print_exc(file=sys.stderr)
            raise
        finally:
            if self.tracer and rec.span is not None:
                self.tracer.collect(rec.span)
        self.current.append(rec)

    def op(self, name: str, label: str = ""):
        return self._timed(name, "op", label)

    def step(self, name: str):
        return self._timed(name, "step")

    @contextlib.contextmanager
    def own(self):
        """The benchmark's own work (staging inputs, computing expected
        values), outside every timing and left out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def check(self):
        """The benchmark's own output checks; a failed one is a wrong output."""
        with self.own():
            try:
                yield
            except Exception:  # noqa: BLE001 - any failed check is a wrong output
                self.wrong += 1
                traceback.print_exc(file=sys.stderr)

    def warm_up(self, workload) -> list[Record]:
        self.current = []
        workload.warm_up(self)
        return self.current

    def settle(self, workload) -> list[float]:
        """The workload's untimed settling passes; returns their times.
        In the first passes after the warm-up the JIT compiler still
        competes with the work for the cores, and each pass is faster
        than the one before; timing them would make a run's figures
        depend on how many of them fit in the region."""
        times = []
        for _ in range(workload.settle_passes):
            self.current = []
            t = time.perf_counter()
            with contextlib.suppress(Exception):  # already counted in _timed
                workload.run_pass(self)
            times.append(time.perf_counter() - t)
        return times

    def run_region(self, workload, seconds: float) -> list[list[Record]]:
        """Whole passes until ``seconds`` have elapsed (at least one);
        returns the records of each completed pass. A pass that raises is
        counted in ``raised`` and left out; the loop goes on."""
        passes = []
        deadline = time.perf_counter() + seconds
        while True:
            self.current = []
            try:
                workload.run_pass(self)
            except Exception:  # noqa: BLE001 - already counted in _timed
                pass
            else:
                passes.append(self.current)
            if time.perf_counter() >= deadline:
                return passes


def end_to_end(passes: list[list[Record]], setup_s: float, rss: float):
    ops = [(r.label or r.name, r.seconds) for p in passes for r in p if r.kind == "op"]
    pass_s = [sum(r.seconds for r in p) for p in passes]
    rows_per_s = []
    for p in passes:
        pass_ops = [r for r in p if r.kind == "op"]
        busy = sum(r.seconds for r in pass_ops)
        rows_per_s.append(sum(r.rows for r in pass_ops) / busy if busy > 0 else 0.0)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (stats.median(pass_s), "s"),
        "op_s.p50": (stats.across_names(ops, stats.median), "s"),
        "rows_per_s": (stats.median(rows_per_s), "rows/s"),
        "peak_rss_mb": (rss, "MiB"),
    }
    info = {
        "passes": len(passes),
        "pass_s": [round(x, 3) for x in pass_s],
        "samples_by_name": stats.per_name(ops, len),
        "p50_by_name": by_name(r for p in passes for r in p),
        "max_by_name": by_name((r for p in passes for r in p), max),
    }
    return metrics, info


def by_name(records, summary=stats.median) -> dict[str, float]:
    samples = ((r.label or r.name, r.seconds) for r in records)
    return {k: round(v, 4) for k, v in stats.per_name(samples, summary).items()}


def per_layer(tracer, passes: list[list[Record]], untraced_wall: float, cores: int, get_spark_s: float):
    region = [r for p in passes for r in p]
    ops = [r for r in region if r.span is not None]
    raw = tracer.layer_metrics({r.span.id for r in ops}, cores)
    metrics: dict[str, tuple[float, str]] = {}
    for name in SPAN_METRICS:
        metrics[f"{name}_s"] = (raw.get(f"{name}_s", 0.0), "s")
        metrics[f"{name}_s.p50"] = (raw.get(f"{name}_s.p50", 0.0), "s")
    syncs = [r for r in ops if r.name == "plans.run_sync"]
    queries = [r for r in ops if r.name.startswith("operators.")]
    sync_ids = {r.span.id for r in syncs}
    ledger_reads = sum(1 for s in tracer.spans if s.name == "sources.table_history" and s.op in sync_ids)
    rows = sum(r.rows for r in syncs)
    out_bytes = sum(r.out_bytes for r in syncs)

    def per(records: list[Record], total: float) -> float:
        return total / len(records) if records else 0.0

    metrics.update(
        {
            "session.get_spark_s": (get_spark_s, "s"),
            "sources.ledger_reads_per_sync": (per(syncs, ledger_reads), "count"),
            "sinks.files": (float(sum(r.files for r in syncs)), "count"),
            "sinks.bytes": (float(out_bytes), "B"),
            "sinks.bytes_per_row": (out_bytes / rows if rows else 0.0, "B/row"),
            "exec.jobs_per_sync": (per(syncs, sum(tracer.jobs.get(i, 0) for i in sync_ids)), "count"),
            "exec.jobs_per_query": (
                per(queries, sum(tracer.jobs.get(r.span.id, 0) for r in queries)),
                "count",
            ),
            "exec.tasks": (raw["exec.tasks"], "count"),
            "exec.core_util": (raw["exec.core_util"], "ratio"),
            "exec.task_max_over_median": (raw["exec.task_max_over_median"], "ratio"),
            "exec.run_s": (raw["exec.run_s"], "s"),
            **{f"exec.run_s.{layer}": (raw[f"exec.run_s.{layer}"], "s") for layer in LAYERS},
            "exec.cpu_s": (raw["exec.cpu_s"], "s"),
            "exec.gc_s": (raw["exec.gc_s"], "s"),
            "exec.input_mb": (raw["exec.input_mb"], "MiB"),
            "exec.shuffle_read_mb": (raw["exec.shuffle_read_mb"], "MiB"),
            "exec.shuffle_write_mb": (raw["exec.shuffle_write_mb"], "MiB"),
            "exec.spill_mb": (raw["exec.spill_mb"], "MiB"),
            "trace.overhead_s": (
                stats.median([sum(r.seconds for r in p) for p in passes]) - untraced_wall,
                "s",
            ),
        }
    )
    return metrics


def pin_environment(run_dir: str) -> dict:
    """Pin the engine's session to this host and keep every file the run
    writes inside ``run_dir``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    settings = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts before the driver
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(settings)
    tempfile.tempdir = tmp
    return {
        "cores": cores,
        "extra_conf": {
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
        "settings": {k: v for k, v in settings.items() if k != "PYTHONPATH"},
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: kill and reap
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    run_dir = os.path.join(os.getcwd(), ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    cpu0 = _cpu_times()
    spark = None
    try:
        pinned = pin_environment(run_dir)
        workload = WORKLOADS[args.workload](args.seed, run_dir)
        t = time.perf_counter()
        workload.prepare()
        prepare_s = time.perf_counter() - t

        from pyspark_unload_to_gcs_spark import session

        t = time.perf_counter()
        spark = session.get_spark(app_name="perfbench", extra_conf=pinned["extra_conf"])
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        workload.spark = spark

        rec = Recorder()
        t = time.perf_counter()
        warm = rec.warm_up(workload)
        warm_up_s = time.perf_counter() - t
        # the engine's part of set-up: the session and the warm-up's
        # calls, without the benchmark's input generation and checks
        setup_s = get_spark_s + warm_up_s - rec.own_s
        settle_s = rec.settle(workload)

        passes = rec.run_region(workload, args.seconds)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = _vm_hwm_mib(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        metrics, info = end_to_end(passes, setup_s, rss)
        if args.trace:
            rec.tracer = Tracer(spark)
            rec.tracer.mark()
            rec.tracer.install()
            try:
                traced = rec.run_region(workload, args.seconds)
            finally:
                rec.tracer.uninstall()
            metrics = per_layer(
                rec.tracer, traced, metrics["wall_s"][0], pinned["cores"], get_spark_s
            )
            info["traced_pass_s"] = [round(sum(r.seconds for r in p), 3) for p in traced]
            info["spark.ui.enabled"] = spark.conf.get("spark.ui.enabled")
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(run_dir))

    info.update(
        workload=args.workload,
        seed=args.seed,
        prepare_s=round(prepare_s, 3),
        get_spark_s=round(get_spark_s, 3),
        warm_up_s=round(warm_up_s, 3),
        settle_pass_s=[round(x, 3) for x in settle_s],
        own_s=round(rec.own_s, 3),
        warm_up_by_name=by_name(warm),
        failed_frac=stats.failed_frac(rec.attempted, rec.raised, rec.wrong),
        host_steal_pct=round(steal_pct(cpu0, _cpu_times()), 3),
        nproc=pinned["cores"],
        **pinned["settings"],
    )
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {
                "correct": rec.raised + rec.wrong == 0,
                "attempted": rec.attempted,
                "failed": rec.raised + rec.wrong,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
