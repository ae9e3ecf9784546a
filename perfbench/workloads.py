"""The benchmark's workloads. Each drives the engine's public entry
points the way their callers do and checks every output.

A workload generates its inputs from the seed (``prepare``), then runs
whole passes of a fixed sequence of steps. ``Recorder`` (run.py) times
each step; a step's check runs after its timing ends.

Table sizes follow the engine's sf0.1 fixtures, the scale its benchmark
runs at (row counts from the fixture files' parquet metadata):
customer 15,000, orders 150,000 over 15,000 customers, events 100,000
over 30 days and 1,500 users, documents 5,000 of 10-100 words,
embeddings 2,000 x 64 in 10 labels. The change set per commit and the
sync cadence come from no caller and are the benchmark's own choice.

- ``export_incremental``: the orchestrator's closed loop, one client:
  commit a seeded change set, CDC-sync it, then a bounded time-based
  sync and an scd-latest re-sync; each returned watermark feeds the
  next sync.
- ``analytics_dedup_search``: the dedup, text and similarity operators,
  each materialized through the ``noop`` sink. ``minhash_dedup`` is left
  out: it is the slowest operator and does not fit the benchmark's time
  budget (see README.md).
"""

from __future__ import annotations

import glob
import gzip
import json
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs
from pyspark_unload_to_gcs_spark.config import SyncConfig
from pyspark_unload_to_gcs_spark.operators import dedup, similarity, text
from pyspark_unload_to_gcs_spark.plans import sync
from pyspark_unload_to_gcs_spark.sinks import writers
from pyspark_unload_to_gcs_spark.sources import catalog, versioned


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _json_files(out_dir: str) -> list[str]:
    return sorted(
        p
        for p in glob.glob(os.path.join(out_dir, "**", "*.json.gz"), recursive=True)
        if not os.path.basename(p).startswith(("_", "."))
    )


def read_back_rows(out_dir: str) -> int:
    """Rows in a gzip JSON export directory, counted from the files."""
    total = 0
    for p in _json_files(out_dir):
        with gzip.open(p, "rb") as f:
            total += sum(1 for _ in f)
    return total


def read_back_json(out_dir: str) -> list[dict]:
    rows = []
    for p in _json_files(out_dir):
        with gzip.open(p, "rt") as f:
            rows.extend(json.loads(line) for line in f)
    return rows


def duck_count(sql: str) -> int:
    con = duckdb.connect()
    try:
        return int(con.execute(sql).fetchone()[0])
    finally:
        con.close()


class Workload:
    name = ""
    spark = None  # set once the session exists, after prepare()
    # untimed passes between the warm-up and the timed region, until each
    # pass is within about 5% of the next (see README.md, "One run")
    settle_passes = 1

    def __init__(self, seed: int, run_dir: str):
        self.rng = np.random.default_rng(seed)
        self.data = os.path.join(run_dir, "data")
        self.out = os.path.join(run_dir, "out")
        os.makedirs(self.data, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)

    def prepare(self) -> None:
        """Write the seeded inputs (before the Spark session exists)."""

    def warm_up(self, rec) -> None:
        self.run_pass(rec)

    def run_pass(self, rec) -> None:
        raise NotImplementedError

    # -- shared sync step ----------------------------------------------

    def sync_step(self, rec, config: SyncConfig, expected_rows: int, check=None):
        """One ``run_sync`` call, the consumer's ``validate_manifest``,
        and the benchmark's own checks of the written files."""
        with rec.op("plans.run_sync", f"run_sync:{config.sync_type}") as op:
            result = sync.run_sync(self.spark, config)
        op.rows = result.rows_written or 0
        out_dir = config.output_uri.removeprefix("file:")
        with rec.step("step.validate_manifest"):
            manifest = writers.validate_manifest(config.output_uri)
        op.out_bytes = manifest["total_bytes"]
        op.files = manifest["n_files"]
        with rec.check():
            expect(expected_rows > 0, f"{config.table}: the seed gives an empty export")
            expect(
                result.rows_written == expected_rows,
                f"{result.plan_description}: wrote {result.rows_written} rows, "
                f"expected {expected_rows}",
            )
            expect(manifest.get("row_count") == result.rows_written, "manifest row_count")
            rows = read_back_rows(out_dir)
            expect(rows == expected_rows, f"read back {rows} rows, expected {expected_rows}")
            if check is not None:
                check(result, out_dir)
        return result


class ExportIncremental(Workload):
    """The orchestrator loop: small syncs, so planning, ledger reads,
    job scheduling, the row-count guard and manifests dominate."""

    name = "export_incremental"
    settle_passes = 2
    TABLE_ROWS = 15_000  # sf0.1 customer
    CHANGES = 60  # updates and deletes per commit, half as many inserts: 1% of the table
    EVENTS = 100_000  # sf0.1 events
    EVENT_USERS = 1_500
    WINDOWS = 30  # one time-based sync per day of the events' 30-day span
    DELAY_MS = 60_000
    ORDERS = 150_000  # sf0.1 orders
    CUSTOMERS = 15_000
    GUARD_LIMIT = 1_000_000

    def prepare(self) -> None:
        self.events = inputs.write_events(
            self.rng, self.EVENTS, self.EVENT_USERS, os.path.join(self.data, "events.parquet")
        )
        self.orders = inputs.write_orders(
            self.rng, self.ORDERS, self.CUSTOMERS, os.path.join(self.data, "orders.parquet")
        )
        self.customers = duck_count(
            f"SELECT COUNT(DISTINCT o_custkey) FROM read_parquet('{self.orders}')"
        )
        staging = os.path.join(self.data, "staging")
        os.makedirs(staging, exist_ok=True)
        self.source = inputs.VersionedSource(self.rng, self.TABLE_ROWS, self.CHANGES, staging)
        self.table = os.path.join(self.data, "customer_versioned")
        self.cdc_watermark = 0
        self.window_ms = inputs.EVENT_SPAN_S * 1000 // self.WINDOWS
        self.time_cursor_ms = inputs.EPOCH_BASE_S * 1000
        self.n_time_syncs = 0

    def _cdc_config(self) -> SyncConfig:
        return SyncConfig(
            table=self.table,
            sync_type="cdc",
            table_format="versioned",
            cdc_key_columns=("c_custkey",),
            time_cutoff_ms=self.cdc_watermark,
            validate_row_count=self.GUARD_LIMIT,
            computed_hash_column="row_hash",
            output_uri=f"file:{self.out}/customer_cdc",
            emit_manifest=True,
        )

    def warm_up(self, rec) -> None:
        # the table's first commit and first (snapshot) sync
        with rec.own():
            first = self.source.snapshot()
        with rec.step("step.commit"):
            versioned.commit_version(self.spark.read.parquet(first), self.table, 1_000)
        result = self.sync_step(rec, self._cdc_config(), self.TABLE_ROWS)
        self.cdc_watermark = result.change_capture_sync_last_commit_ms
        self.run_pass(rec)

    def _check_cdc(self, change: inputs.ChangeSet):
        def check(_result, out_dir: str) -> None:
            rows = read_back_json(out_dir)
            by_type: dict[str, list[int]] = {"INSERT": [], "DELETE": []}
            for r in rows:
                by_type[r["_mp_change_type"]].append(r["c_custkey"])
            deletes, inserts = by_type["DELETE"], by_type["INSERT"]
            expect(len(set(deletes)) == len(deletes), "duplicate DELETE keys")
            expect(len(set(inserts)) == len(inserts), "duplicate INSERT keys")
            expect(set(deletes) == change.updated | change.deleted, "CDC preimage keys differ")
            expect(set(inserts) == change.updated | change.inserted, "CDC postimage keys differ")

        return check

    def run_pass(self, rec) -> None:
        # 1. the upstream commits a seeded change set, stamped after the
        #    last watermark so the next incremental window holds it
        with rec.own():
            staged, change = self.source.next_snapshot()
        with rec.step("step.commit"):
            versioned.commit_version(
                self.spark.read.parquet(staged), self.table, self.cdc_watermark + 1
            )
        # 2. CDC sync of exactly that change set
        result = self.sync_step(
            rec, self._cdc_config(), change.expected_rows, self._check_cdc(change)
        )
        self.cdc_watermark = result.change_capture_sync_last_commit_ms

        # 3. bounded time-based window over events; the next cutoff is the
        #    first second after this window's upper bound
        lo_ms = self.time_cursor_ms
        now_ms = lo_ms + self.window_ms + self.DELAY_MS
        hi_s = (now_ms - self.DELAY_MS) // 1000
        with rec.own():
            expected = duck_count(
                f"SELECT COUNT(*) FROM read_parquet('{self.events}') "
                f"WHERE epoch_us(ts) >= {-(-lo_ms // 1000) * 1_000_000} "
                f"AND epoch_us(ts) < {(hi_s + 1) * 1_000_000}"
            )
        self.sync_step(
            rec,
            SyncConfig(
                table=self.events,
                sync_type="time-based",
                updated_time_column="ts",
                time_cutoff_ms=lo_ms,
                now_ms=now_ms,
                delay_ms=self.DELAY_MS,
                computed_hash_column="row_hash",
                output_uri=f"file:{self.out}/events_window",
                emit_manifest=True,
            ),
            expected,
        )
        self.n_time_syncs += 1
        self.time_cursor_ms = (hi_s + 1) * 1000
        if self.n_time_syncs % self.WINDOWS == 0:  # replay the span from its start
            self.time_cursor_ms = inputs.EPOCH_BASE_S * 1000

        # 4. scd-latest re-sync
        self.sync_step(
            rec,
            SyncConfig(
                table=self.orders,
                sync_type="scd-latest",
                group_id_column="o_custkey",
                scd_time_column="o_orderdate",
                scd_tiebreak_columns=("o_orderkey",),
                output_uri=f"file:{self.out}/orders_scd",
                emit_manifest=True,
            ),
            self.customers,
        )


class AnalyticsDedupSearch(Workload):
    """Dedup, TF-IDF and vector search over documents and embeddings,
    materialized through the noop sink: nothing is written."""

    name = "analytics_dedup_search"
    # sf0.1 documents: 5,000 of 10-100 words, 10% of them planted
    # duplicates so that the dedup operators' output can be checked
    BASE_DOCS = 4_500
    COPIES = 250
    VARIANTS = 250
    WORDS = (10, 100)
    VECTORS = 2_000  # sf0.1 embeddings: 2,000 x 64 in 10 labels
    DIM = 64
    CLUSTERS = 10
    K = 10

    def prepare(self) -> None:
        self.docs = inputs.write_documents(
            self.rng,
            self.BASE_DOCS,
            self.COPIES,
            self.VARIANTS,
            self.WORDS,
            os.path.join(self.data, "documents.parquet"),
        )
        self.emb_path, self.queries = inputs.write_embeddings(
            self.rng,
            self.VECTORS,
            self.DIM,
            self.CLUSTERS,
            os.path.join(self.data, "embeddings.parquet"),
        )
        vecs = np.stack(
            pq.read_table(self.emb_path).column("embedding").to_numpy(zero_copy_only=False)
        ).astype(np.float64)
        self.cosines = [
            vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q)) for q in self.queries
        ]
        self.reference: dict[str, tuple[int, int]] = {}

    def queries_in_pass(self):
        docs, emb = self.docs.path, self.emb_path
        q_exact, q_ivf = ([float(x) for x in q] for q in self.queries)
        return [
            ("simhash_dedup", docs, lambda df: dedup.simhash_dedup(df, "doc_id", "text")),
            ("exact_dedup", docs, lambda df: dedup.exact_dedup(df, ["text"], "doc_id")),
            ("tfidf_top_terms", docs, lambda df: text.tfidf_top_terms(df, top_k=3)),
            ("cosine_topk", emb, lambda df: similarity.cosine_topk(df, q_exact, self.K)),
            ("ivf_topk", emb, lambda df: similarity.ivf_topk(df, q_ivf, self.K)),
        ]

    def run_pass(self, rec) -> None:
        from pyspark.sql import Observation

        for name, table, build in self.queries_in_pass():
            # the first call of each query collects its rows for the
            # one-time verification; later calls materialize through the
            # noop sink. An observation on the same execution yields the
            # row count and an order-free checksum of every call's output.
            verify = name not in self.reference
            with rec.op(f"operators.{name}") as op:
                df = build(catalog.load_table(self.spark, table))
                obs = Observation()
                observed = df.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("x"),
                )
                if verify:
                    got = observed.collect()
                else:
                    observed.write.format("noop").mode("overwrite").save()
                rows, checksum = int(obs.get["n"]), int(obs.get["x"] or 0)
            op.rows = rows
            with rec.check():
                if verify:
                    self._verify(name, got, rows)
                    self.reference[name] = (rows, checksum)
                expect(
                    (rows, checksum) == self.reference[name],
                    f"{name}: output (rows={rows}, checksum={checksum}) differs "
                    f"from the verified {self.reference[name]}",
                )

    # -- one-time verification of each operator's output ----------------

    def _verify(self, name: str, got: list, rows: int) -> None:
        expect(len(got) == rows, f"{name}: collected {len(got)} rows, observed {rows}")
        all_ids = set(range(self.docs.n_docs))
        if name == "simhash_dedup":
            want = all_ids - self.docs.exact_copy_ids - self.docs.variant_ids
            expect({r.doc_id for r in got} == want, f"{name}: survivors differ from the planted set")
        elif name == "exact_dedup":
            con = duckdb.connect()
            try:
                oracle = con.execute(
                    "SELECT doc_id FROM (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text "
                    f"ORDER BY doc_id) AS rn FROM read_parquet('{self.docs.path}')) WHERE rn = 1"
                ).fetchall()
            finally:
                con.close()
            survivors = {r.doc_id for r in got}
            expect(survivors == {r[0] for r in oracle}, "exact_dedup: differs from DuckDB")
            expect(survivors == all_ids - self.docs.exact_copy_ids, "exact_dedup: planted copies")
        elif name == "tfidf_top_terms":
            self._verify_tfidf(got)
        else:
            cos = self.cosines[0 if name == "cosine_topk" else 1]
            ids = [r.vec_id for r in got]
            expect(len(ids) == self.K == len(set(ids)), f"{name}: expected {self.K} distinct ids")
            for r in got:
                expect(abs(r.cosine - cos[r.vec_id]) < 1e-9, f"{name}: cosine of {r.vec_id}")
            expect(
                all(a.cosine >= b.cosine for a, b in zip(got, got[1:])), f"{name}: not ranked"
            )
            if name == "cosine_topk":
                want = sorted(range(len(cos)), key=lambda i: (-cos[i], i))[: self.K]
                expect(ids == want, "cosine_topk: differs from the exact top-k")

    def _verify_tfidf(self, got) -> None:
        con = duckdb.connect()
        try:
            want = con.execute(
                f"""
                WITH docs AS (SELECT * FROM read_parquet('{self.docs.path}')),
                pairs AS (
                    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                    FROM docs WHERE trim(text) != ''
                ),
                tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY ALL),
                dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
                n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM docs),
                scored AS (
                    SELECT doc_id, term, tf, df,
                           tf * (ln((n + 1.0) / (df + 1.0)) + 1.0) AS tfidf
                    FROM tf JOIN dfreq USING (term) CROSS JOIN n
                )
                SELECT doc_id, term, tf, df, tfidf FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
                    FROM scored
                ) WHERE rn <= 3 ORDER BY doc_id, term
                """
            ).fetchall()
        finally:
            con.close()
        mine = sorted((r.doc_id, r.term, r.tf, r.df, r.tfidf) for r in got)
        expect(len(mine) == len(want), f"tfidf_top_terms: {len(mine)} rows vs {len(want)}")
        for a, b in zip(mine, want):
            expect(a[:4] == tuple(b[:4]), f"tfidf_top_terms: {a[:4]} vs {tuple(b[:4])}")
            expect(abs(a[4] - b[4]) <= 1e-9 * max(1.0, abs(b[4])), f"tfidf of {a[:2]}")


WORKLOADS = {w.name: w for w in (ExportIncremental, AnalyticsDedupSearch)}
