"""Warm store snapshot (sources/store.py module docstring): a repeat read
at one manifest generation parses no manifest, reads no delete batch
and lists no parquet files, while every commit (a delete batch, an
appended segment, a merge) and a rebuild at the same root is seen by
the next read. A warm point read runs at most three Spark jobs."""

from __future__ import annotations

import shutil
import uuid

import numpy as np
import pandas as pd
import pytest
from pyspark import SparkContext
from pyspark.sql.readwriter import DataFrameReader

from inverted_index_spark.functions.tokenizer import tokenize_text
from inverted_index_spark.operators.build import build_index
from inverted_index_spark.operators.merge import merge_segments
from inverted_index_spark.operators.positions import phrase_match
from inverted_index_spark.operators.query import and_values, read_values
from inverted_index_spark.oracle import OracleIndex
from inverted_index_spark.sources.store import (
    MERGED,
    BROADCAST_QMAP_THRESHOLD,
    SegmentStore,
    _tomb_frame,
    tombstoned,
)
from inverted_index_spark.sources.transcripts import generate_transcripts

TERMS = ["w00000", "w00001"]
LO, HI = 10, 150


def _build(spark, store, docs, lo, hi=None):
    part = docs.where(f"doc_id >= {lo}" + ("" if hi is None else f" and doc_id < {hi}"))
    build_index(spark, part, store, bucket_size=32, block_size=16, positions=True)


def _answers(spark, store):
    """read_values, and_values and exact phrase_match doc ids."""
    return tuple(
        sorted(int(r["doc_id"]) for r in df.collect())
        for df in (
            read_values(spark, store, TERMS, LO, HI),
            and_values(spark, store, TERMS),
            phrase_match(spark, store, TERMS),
        )
    )


def _oracle(pdf: pd.DataFrame, dead=()):
    alive = pdf[~pdf["doc_id"].isin(list(dead))]
    orc = OracleIndex.from_docs(alive)
    both = set.intersection(*[set(orc.postings.get(t, {})) for t in TERMS])
    return orc.read_values(TERMS, LO, HI), sorted(both), _phrase_docs(alive, 0)


def _phrase_docs(alive: pd.DataFrame, slop: int) -> list[int]:
    """Docs where TERMS[1] follows some TERMS[0] within ``slop`` extra
    tokens (phrase_match's ordered sloppy phrase)."""
    hits = []
    for d, text in zip(alive["doc_id"], alive["text"]):
        toks = list(tokenize_text(text))
        if any(
            t == TERMS[0] and TERMS[1] in toks[i + 1 : i + 2 + slop]
            for i, t in enumerate(toks)
        ):
            hits.append(int(d))
    return sorted(hits)


def _counting(mp):
    """Count manifest parses and delete-batch reads (pd.read_parquet of
    an open gen file or of a ``deletes`` directory) and Spark parquet
    listings (DataFrameReader.parquet) while ``mp`` is active."""
    counts = {"manifest": 0, "deletes": 0, "listing": 0}
    read_pq, listing = pd.read_parquet, DataFrameReader.parquet

    def counted_read(src, *a, **k):
        is_batch = isinstance(src, str) and src.endswith("deletes")
        counts["deletes" if is_batch else "manifest"] += 1
        return read_pq(src, *a, **k)

    def counted_listing(*a, **k):
        counts["listing"] += 1
        return listing(*a, **k)

    mp.setattr(pd, "read_parquet", counted_read)
    mp.setattr(DataFrameReader, "parquet", counted_listing)
    return counts


def test_reads_stay_warm_at_one_generation_and_see_each_commit(
    spark, tmp_path, monkeypatch
):
    docs = generate_transcripts(spark, 180, include_doc_id=True)
    pdf = docs.select("doc_id", "text").toPandas()
    root = str(tmp_path / "idx")
    store = SegmentStore(root)
    _build(spark, store, docs, 0, 60)
    _build(spark, store, docs, 60, 120)
    store.delete_docs(spark, [1, 2, 70])
    dead = [1, 2, 70]
    want = _oracle(pdf[pdf["doc_id"] < 120], dead)
    assert _answers(spark, store) == want  # warms both memos

    # a repeat read/AND/phrase at the same generation: nothing re-read
    with monkeypatch.context() as mp:
        counts = _counting(mp)
        assert _answers(spark, store) == want
    assert counts == {"manifest": 0, "deletes": 0, "listing": 0}

    gen = store.current_generation()
    store.delete_docs(spark, [3, 80])
    assert store.current_generation() == gen + 1
    dead += [3, 80]
    # the next read sees the new batch and reads only that one
    with monkeypatch.context() as mp:
        counts = _counting(mp)
        assert _answers(spark, store) == _oracle(pdf[pdf["doc_id"] < 120], dead)
    assert counts["deletes"] == 1

    _build(spark, store, docs, 120)  # append
    assert store.current_generation() == gen + 2
    assert len(store.live_segments()) == 3
    assert _answers(spark, store) == _oracle(pdf, dead)

    merged = merge_segments(spark, store, min_files=2)
    assert merged is not None and store.current_generation() == gen + 3
    assert (store.read_manifest()["status"] == MERGED).any()
    assert merged in set(store.live_segments()["segment_id"])
    assert _answers(spark, store) == _oracle(pdf, dead)

    # removed and rebuilt at the same root: gen-1.parquet again, new store
    old = set(store.read_manifest()["segment_id"])
    shutil.rmtree(root)
    store = SegmentStore(root)
    _build(spark, store, docs, 90)
    m = store.read_manifest()
    assert len(m) == 1 and not old & set(m["segment_id"])
    assert not store.has_deletes()
    assert _answers(spark, store) == _oracle(pdf[pdf["doc_id"] >= 90])


@pytest.mark.parametrize("gens", [[3, 7], [7, 3]])
def test_tombstoned_uses_the_highest_batch_generation(gens):
    """A doc named by batches of generation 3 and 7 (in either order)
    is dead for a segment of generation 5 and alive for one of 8."""
    tomb = _tomb_frame(
        [(np.array([9, 4] if g == 3 else [9], np.int64), g) for g in gens]
    )
    rows = pd.DataFrame({"_sgen": np.array([5, 8], np.int64)})
    docs = np.array([9, 9], np.int64)
    dead = tombstoned(rows, np.array([1, 1]), docs, tomb)
    assert dead is not None and dead.tolist() == [True, False]


def _two_segments_with_deletes(spark, tmp_path, n_docs, dead):
    docs = generate_transcripts(spark, n_docs, include_doc_id=True)
    pdf = docs.select("doc_id", "text").toPandas()
    store = SegmentStore(str(tmp_path / "idx"))
    _build(spark, store, docs, 0, n_docs // 2)
    _build(spark, store, docs, n_docs // 2)
    store.delete_docs(spark, dead)
    return store, pdf[~pdf["doc_id"].isin(dead)]


def _jobs(spark, read):
    """(rows, Spark jobs) of one ``read().collect()`` under its own job
    group."""
    sc = spark.sparkContext
    group = f"point-read-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "point read")
    try:
        rows = read().collect()
    finally:
        sc.setJobGroup("", "")
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_point_reads_run_at_most_three_jobs(spark, tmp_path):
    """A point read over two segments with a live delete batch runs its
    scan exchange, its one Python kernel stage and the final sort: no
    job for the tombstones, none re-running the kernel for a range
    exchange's sample."""
    store, alive = _two_segments_with_deletes(spark, tmp_path, 120, [1, 2, 70])
    orc = OracleIndex.from_docs(alive)
    both = set.intersection(*[set(orc.postings.get(t, {})) for t in TERMS])
    reads = {
        "read_values": (
            lambda: read_values(spark, store, TERMS, LO, HI),
            orc.read_values(TERMS, LO, HI),
        ),
        "and_values": (lambda: and_values(spark, store, TERMS), sorted(both)),
        "phrase": (lambda: phrase_match(spark, store, TERMS), _phrase_docs(alive, 0)),
        "phrase~2": (
            lambda: phrase_match(spark, store, TERMS, slop=2),
            _phrase_docs(alive, 2),
        ),
    }
    for name, (read, want) in reads.items():
        read().collect()  # warm the store's memos
        rows, jobs = _jobs(spark, read)
        assert [int(r["doc_id"]) for r in rows] == want, name
        assert jobs <= 3, (name, jobs)


def test_tombstones_above_the_broadcast_threshold(spark, tmp_path, monkeypatch):
    """A live delete set larger than BROADCAST_QMAP_THRESHOLD ships to
    the kernels as a broadcast, with the same answers."""
    dead = list(range(0, 2 * (BROADCAST_QMAP_THRESHOLD + 10), 2))
    store, alive = _two_segments_with_deletes(spark, tmp_path, 1200, dead)
    assert len(store.live_tombstones()) > BROADCAST_QMAP_THRESHOLD
    sent = []
    broadcast = SparkContext.broadcast
    monkeypatch.setattr(
        SparkContext, "broadcast", lambda sc, v: sent.append(v) or broadcast(sc, v)
    )
    assert _answers(spark, store) == _oracle(alive)
    assert len(sent) == 3
