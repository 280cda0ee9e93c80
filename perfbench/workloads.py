"""The workloads: each is one closed-loop client replaying a fixed,
seeded op list through the engine's public functions.

A workload builds its inputs and expected answers once (``inputs``, no
Spark), ``setup`` makes the state the timed loop runs against, ``warm``
compiles every op shape, ``run_op`` performs op ``j`` and returns what
the engine answered, and ``check`` compares that answer with the
oracle's. Why each workload exists and which layers it stresses or
bypasses is in README.md.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from inverted_index_spark.operators import positions, query
from inverted_index_spark.operators.build import build_index
from inverted_index_spark.operators.merge import merge_segments
from inverted_index_spark.operators.search import Searcher
from inverted_index_spark.oracle import OracleIndex
from inverted_index_spark.sources.store import DELETES, LIVE, SegmentStore, dir_bytes

import inputs as I

K = 10
BUCKET_SIZE = 4096  # fixed, so plans do not depend on the core count
SCORE_TOL = 1e-9  # the oracle's tolerance contract for summed scores


def _topk_ok(rows: list[tuple[int, float]], expected: list[list]) -> bool:
    if [d for d, _ in rows] != [d for d, _ in expected]:
        return False
    return all(abs(s - e) <= SCORE_TOL for (_, s), (_, e) in zip(rows, expected))


class Workload:
    name = ""
    N_TURNS = 0

    def __init__(self, spark, tracer, work_dir: str, docs_path: str, spec: dict):
        self.spark, self.tr, self.work, self.spec = spark, tracer, work_dir, spec
        self.docs = spark.read.parquet(docs_path)
        self.store: SegmentStore | None = None
        self.searcher: Searcher | None = None
        self.build_rates: list[float] = []  # turns per second of each build_index call
        text = pd.read_parquet(docs_path, columns=["text"])["text"]
        self.text_bytes = int(text.str.encode("utf-8").str.len().sum())

    def queries_per_op(self) -> int:
        return 1

    def _fresh_store(self) -> SegmentStore:
        self.teardown()
        root = os.path.join(self.work, f"{self.name}-store")
        shutil.rmtree(root, ignore_errors=True)
        self.store = SegmentStore(root)
        return self.store

    def _build(self, part: int | None, n_turns: int, **kw) -> None:
        docs = self.docs if part is None else self.docs.where(F.col("part") == part)
        t = time.perf_counter()
        with self.tr.span("build.build_index"):
            build_index(self.spark, docs, self.store, bucket_size=BUCKET_SIZE, **kw)
        self.build_rates.append(n_turns / (time.perf_counter() - t))

    def result_rows(self, out) -> int:
        return 0 if out is None else len(out)

    def op_kind(self, j: int) -> str:
        return self.name

    def p50_by_kind(self, outs, lat) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for (j, _), t in zip(outs, lat):
            by.setdefault(self.op_kind(j), []).append(t * 1e3)
        return {k: statistics.median(v) for k, v in by.items()}

    def _open(self) -> None:
        with self.tr.span("search.open"):
            self.searcher = Searcher(self.spark, self.store).open()

    def teardown(self) -> None:
        if self.searcher is not None:
            self.searcher.close()
            self.searcher = None

    def store_bytes(self) -> tuple[int, int]:
        """(bytes ever written, live bytes): merged-away segments stay on
        disk until ``cleanup``, which the benchmark never calls."""
        m = self.store.read_manifest()
        live = m[m["status"].isin([LIVE, DELETES])]["segment_id"]
        return dir_bytes(self.store.root), sum(dir_bytes(self.store.seg_dir(s)) for s in live)


class Bm25Batch(Workload):
    """Batched BM25 top-k over one warm segment of a few hundred thousand
    turns: large enough that the op's time goes to the scoring kernels
    in the Python workers, not to per-job overhead (see README.md)."""

    name = "bm25_batch"
    N_TURNS = 250_000
    N_BATCHES, BATCH = 4, 16

    @classmethod
    def inputs(cls, seed: int):
        docs = I.make_turns(seed, cls.N_TURNS, 1)
        orc = OracleIndex.from_docs(docs)
        qs = I.bm25_queries(orc, np.random.default_rng([seed, 1]), cls.N_BATCHES * cls.BATCH)
        batches = [qs[i * cls.BATCH:(i + 1) * cls.BATCH] for i in range(cls.N_BATCHES)]
        expected = [[I.expected_topk(orc, q, K) for q in b] for b in batches]
        return docs, {"batches": batches, "expected": expected}

    def n_ops(self) -> int:
        return self.N_BATCHES

    def queries_per_op(self) -> int:
        return self.BATCH

    def setup(self) -> None:
        """One segment, a reader, and one refresh of that reader (a
        long-lived reader's periodic re-open, here with nothing new)."""
        self._fresh_store()
        self._build(None, self.N_TURNS)
        self._open()
        with self.tr.span("search.refresh"):
            self.searcher.refresh()

    def warm(self) -> int:
        """Two batches untimed (every batch has the same plan shape);
        returns the wrong answers."""
        return sum(not self.check(j, self.run_op(j)) for j in range(2))

    def result_rows(self, out) -> int:
        return 0 if out is None else sum(len(v) for v in out.values())

    def run_op(self, j: int):
        batch = {f"q{i:02d}": t for i, t in enumerate(self.spec["batches"][j])}
        rows = self.tr.call(
            "search.topk_batch",
            lambda: self.searcher.topk_batch(batch, k=K),
            lambda df: df.collect(),
        )
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
            out.setdefault(int(r["qid"][1:]), []).append((int(r["doc_id"]), float(r["score"])))
        return out

    def check(self, j: int, out) -> bool:
        exp = self.spec["expected"][j]
        return all(_topk_ok(out.get(i, []), e) for i, e in enumerate(exp))


class PointReads(Workload):
    """One query per op over an uncompacted multi-segment store with
    positions and a live delete batch; the set-up also exercises the
    write path (appends, a delete batch and a merge)."""

    name = "point_reads"
    PART_TURNS, N_PARTS = 3_000, 3
    N_TURNS = PART_TURNS * N_PARTS
    KINDS = ["topk", "read_values", "and_values", "phrase", "phrase_slop"]
    PER_KIND = 2
    MERGE_FILES = 2
    FORGET_PER_PART = 10
    SLOP = 2

    @classmethod
    def inputs(cls, seed: int):
        docs = I.make_turns(seed, cls.N_TURNS, cls.N_PARTS)
        rng = np.random.default_rng([seed, 2])
        deleted = I.forget_turns(docs, rng, range(cls.N_PARTS), cls.FORGET_PER_PART)
        alive = docs[~docs["doc_id"].isin(deleted)]
        orc = OracleIndex.from_docs(alive)
        warm = I.point_reads(alive, orc, rng, cls.KINDS, 1, K, cls.SLOP)
        ops = I.point_reads(alive, orc, rng, cls.KINDS, cls.PER_KIND, K, cls.SLOP)
        return docs, {"deleted": deleted, "warm": warm, "ops": ops}

    def n_ops(self) -> int:
        return len(self.spec["ops"])

    def setup(self) -> None:
        """Three segments with positions, a delete batch, and a merge of
        the two smallest: two live segments remain and the batch stays
        live, because the unmerged segment still holds tombstoned turns.
        Then a reader is opened on them."""
        self._fresh_store()
        for p in range(self.N_PARTS):
            self._build(p, self.PART_TURNS, positions=True, build_id="point_reads", chunk=p)
        with self.tr.span("store.delete_docs"):
            self.store.delete_docs(self.spark, self.spec["deleted"])
        n_live = len(self.store.live_segments())
        with self.tr.span("merge.merge_segments"):
            merge_segments(self.spark, self.store, min_files=n_live, max_files=self.MERGE_FILES)
        self._open()

    def warm(self) -> int:
        """One read of each kind untimed, so every read plan shape is
        compiled; returns the wrong answers."""
        return sum(not self._check(op, self._read(op)) for op in self.spec["warm"])

    def run_op(self, j: int):
        return self._read(self.spec["ops"][j])

    def op_kind(self, j: int) -> str:
        return self.spec["ops"][j]["kind"]

    def _read(self, op):
        kind, terms, collect = op["kind"], op["terms"], (lambda df: df.collect())
        if kind == "topk":
            with self.tr.span("search.term_dfs"):
                self.searcher.term_dfs(terms)
            rows = self.tr.call("search.topk", lambda: self.searcher.topk(terms, k=K), collect)
            return sorted(((int(r["doc_id"]), float(r["score"])) for r in rows), key=lambda x: (-x[1], x[0]))
        if kind == "read_values":
            rows = self.tr.call(
                "query.read_values",
                lambda: query.read_values(self.spark, self.store, terms, op["lo"], op["hi"]), collect)
        elif kind == "and_values":
            rows = self.tr.call(
                "query.and_values", lambda: query.and_values(self.spark, self.store, terms), collect)
        else:
            rows = self.tr.call(
                "positions.phrase_match",
                lambda: positions.phrase_match(self.spark, self.store, terms, slop=op["slop"]), collect)
        return sorted(int(r["doc_id"]) for r in rows)

    @staticmethod
    def _check(op, out) -> bool:
        return _topk_ok(out, op["expected"]) if op["kind"] == "topk" else out == op["expected"]

    def check(self, j: int, out) -> bool:
        return self._check(self.spec["ops"][j], out)


WORKLOADS = {w.name: w for w in (Bm25Batch, PointReads)}
