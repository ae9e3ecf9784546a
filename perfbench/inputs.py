"""Seeded input tables for the benchmark.

Every table is generated from ``numpy.random.default_rng(seed)`` and
written with pyarrow in the same layout as the engine's sf0.1 fixtures
(the same columns and types, timestamp[us], one parquet row group per
file), so the engine under test receives only these files. The same
seed always gives the same bytes. Row counts and key cardinalities are
set by the callers in ``workloads.py``.

Besides the tables, the generators return what the checks need: the
planted duplicate structure of ``documents`` and the change set of each
versioned-table commit.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-01-01T00:00:00Z; every generated timestamp lies after it.
EPOCH_BASE_S = 1_704_067_200
EVENT_SPAN_S = 30 * 86_400


def _write(table: pa.Table, path: str) -> str:
    # one row group per file, like the fixtures the engine is tuned on
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return path


def _timestamps(rng, n: int, span_s: int) -> pa.Array:
    us = EPOCH_BASE_S * 1_000_000 + rng.integers(0, span_s * 1_000_000, n)
    return pa.array(us, type=pa.timestamp("us"))


def _choice(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def write_orders(rng, n: int, customers: int, path: str) -> str:
    return _write(
        pa.table(
            {
                "o_orderkey": np.arange(1, n + 1, dtype=np.int64) * 4,
                "o_custkey": rng.integers(0, customers, n),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
                "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, n), 2),
                "o_orderdate": _timestamps(rng, n, 6 * 365 * 86_400),
                "o_orderpriority": _choice(
                    rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
                ),
            }
        ),
        path,
    )


def write_events(rng, n: int, users: int, path: str) -> str:
    types = ["view", "click", "purchase", "signup", "error"]
    return _write(
        pa.table(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": _timestamps(rng, n, EVENT_SPAN_S),
                "user_id": rng.integers(0, users, n),
                "event_type": _choice(rng, types, n),
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": pa.array([f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n)]),
            }
        ),
        path,
    )


def _vocabulary(rng, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lengths = rng.integers(4, 10, size)
    words = {"".join(rng.choice(letters, k)) for k in lengths}
    return np.array(sorted(words), dtype=object)


@dataclasses.dataclass
class Documents:
    path: str
    n_docs: int
    # ids of exact byte copies of an earlier doc: every dedup operator
    # drops them
    exact_copy_ids: frozenset[int]
    # ids of case/whitespace variants of an earlier doc: identical after
    # normalization, so the near-dup operators drop them and exact_dedup
    # keeps them
    variant_ids: frozenset[int]


def write_documents(
    rng, n_base: int, n_copies: int, n_variants: int, words: tuple[int, int], path: str
) -> Documents:
    # a vocabulary large enough that two unrelated documents are never
    # near-duplicates, so the planted copies and variants are the only
    # ones and the dedup operators' survivors can be checked exactly
    vocab = _vocabulary(rng, 4_000)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for k in rng.integers(words[0], words[1] + 1, n_base)
    ]
    # each planted doc copies a different base doc, so no two plants
    # collide with each other
    originals = rng.choice(n_base, size=n_copies + n_variants, replace=False)
    exact = set(range(n_base, n_base + n_copies))
    variants = set(range(n_base + n_copies, n_base + n_copies + n_variants))
    texts += [texts[int(i)] for i in originals[:n_copies]]
    for i in originals[n_copies:]:
        words = texts[int(i)].split(" ")
        texts.append("  ".join(w.upper() if j % 3 == 0 else w for j, w in enumerate(words)))
    n = len(texts)
    _write(
        pa.table(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "text": pa.array(texts),
                "lang": _choice(rng, ["en", "de", "fr"], n),
                "source": _choice(rng, ["web", "books", "news"], n),
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        path,
    )
    return Documents(path, n, frozenset(exact), frozenset(variants))


def write_embeddings(
    rng, n: int, dim: int, clusters: int, path: str
) -> tuple[str, np.ndarray]:
    """Clustered vectors, labelled by cluster; returns the path and two
    seeded query vectors (each near one cluster centre)."""
    centres = rng.normal(size=(clusters, dim))
    label = rng.integers(0, clusters, n)
    vecs = centres[label] + 0.35 * rng.normal(size=(n, dim))
    vecs = vecs.astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)
    _write(
        pa.table(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "embedding": emb,
                "label": label.astype(np.int32),
            }
        ),
        path,
    )
    queries = centres[rng.integers(0, clusters, 2)] + 0.2 * rng.normal(size=(2, dim))
    return path, queries.astype(np.float64)


@dataclasses.dataclass
class ChangeSet:
    updated: frozenset[int]
    inserted: frozenset[int]
    deleted: frozenset[int]

    @property
    def expected_rows(self) -> int:
        # an update exports a DELETE preimage and an INSERT postimage
        return 2 * len(self.updated) + len(self.inserted) + len(self.deleted)


SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)


class VersionedSource:
    """The upstream system feeding a versioned customer table: holds the
    current snapshot and produces seeded change sets. Each call to
    ``next_snapshot`` writes the next full snapshot to a staging parquet
    file, ready for ``sources.versioned.commit_version``. An update
    changes a customer's account balance."""

    def __init__(self, rng, n_rows: int, changes_per_commit: int, staging_dir: str):
        self.rng = rng
        self.changes = changes_per_commit
        self.staging_dir = staging_dir
        self.keys = np.arange(n_rows, dtype=np.int64)
        self.nation = rng.integers(0, 25, n_rows)
        self.acctbal = self._balances(n_rows)
        self.segment = rng.integers(0, len(SEGMENTS), n_rows)
        self.next_key = n_rows
        self.n_commits = 0

    def _balances(self, n: int) -> np.ndarray:
        return np.round(self.rng.uniform(-999.99, 9_999.99, n), 2)

    def snapshot(self) -> str:
        path = os.path.join(self.staging_dir, f"snapshot_{self.n_commits}.parquet")
        _write(
            pa.table(
                {
                    "c_custkey": self.keys,
                    "c_name": pa.array([f"Customer#{k:09d}" for k in self.keys]),
                    "c_nationkey": self.nation.astype(np.int32),
                    "c_acctbal": self.acctbal,
                    "c_mktsegment": pa.array(SEGMENTS[self.segment]),
                }
            ),
            path,
        )
        self.n_commits += 1
        return path

    def next_snapshot(self) -> tuple[str, ChangeSet]:
        n = len(self.keys)
        picked = self.rng.choice(n, size=2 * self.changes, replace=False)
        upd, dele = picked[: self.changes], picked[self.changes :]
        n_ins = self.changes // 2
        self.acctbal = self.acctbal.copy()
        self.acctbal[upd] = np.round(self.acctbal[upd] + 1.0 + self.rng.uniform(0, 50, len(upd)), 2)
        change = ChangeSet(
            updated=frozenset(int(k) for k in self.keys[upd]),
            inserted=frozenset(range(self.next_key, self.next_key + n_ins)),
            deleted=frozenset(int(k) for k in self.keys[dele]),
        )
        keep = np.ones(n, dtype=bool)
        keep[dele] = False
        new_keys = np.arange(self.next_key, self.next_key + n_ins)
        self.keys = np.concatenate([self.keys[keep], new_keys])
        self.nation = np.concatenate([self.nation[keep], self.rng.integers(0, 25, n_ins)])
        self.acctbal = np.concatenate([self.acctbal[keep], self._balances(n_ins)])
        self.segment = np.concatenate([self.segment[keep], self.rng.integers(0, len(SEGMENTS), n_ins)])
        self.next_key += n_ins
        return self.snapshot(), change
