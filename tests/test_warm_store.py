"""Warm store snapshot (sources/store.py module docstring): a repeat read
at one manifest generation parses no manifest and lists no parquet
files, while every commit (a delete batch, an appended segment, a
merge) and a rebuild at the same root is seen by the next read."""

from __future__ import annotations

import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.readwriter import DataFrameReader

from inverted_index_spark.functions.tokenizer import tokenize_text
from inverted_index_spark.operators.build import build_index
from inverted_index_spark.operators.merge import merge_segments
from inverted_index_spark.operators.positions import phrase_match
from inverted_index_spark.operators.query import and_values, read_values
from inverted_index_spark.oracle import OracleIndex
from inverted_index_spark.sources.store import (
    MERGED,
    SegmentStore,
    _tomb_order,
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
    phrase = [int(d) for d, t in zip(alive["doc_id"], alive["text"]) if _adjacent(t)]
    return orc.read_values(TERMS, LO, HI), sorted(both), sorted(phrase)


def _adjacent(text: str) -> bool:
    tokens = list(tokenize_text(text))
    return any(tokens[i : i + 2] == TERMS for i in range(len(tokens) - 1))


def _counting(mp):
    """Count manifest parses (pd.read_parquet) and Spark parquet
    listings (DataFrameReader.parquet) while ``mp`` is active."""
    counts = {"manifest": 0, "listing": 0}
    read_pq, listing = pd.read_parquet, DataFrameReader.parquet

    def counted_read(*a, **k):
        counts["manifest"] += 1
        return read_pq(*a, **k)

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
    assert counts == {"manifest": 0, "listing": 0}

    gen = store.current_generation()
    store.delete_docs(spark, [3, 80])
    assert store.current_generation() == gen + 1
    dead += [3, 80]
    assert _answers(spark, store) == _oracle(pdf[pdf["doc_id"] < 120], dead)

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
    tomb = _tomb_order(
        pd.DataFrame(
            {
                "doc_id": np.array([9, 4, 9], np.int64),
                "del_gen": np.array([gens[0], 3, gens[1]], np.int64),
            }
        )
    )
    rows = pd.DataFrame({"_sgen": np.array([5, 8], np.int64)})
    docs = np.array([9, 9], np.int64)
    dead = tombstoned(rows, np.array([1, 1]), docs, tomb)
    assert dead is not None and dead.tolist() == [True, False]
