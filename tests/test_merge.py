"""Merge invariance + housekeeping — ports of
/root/reference/multiple/multiple_index_test.go:216-328:
merging never changes query results; cleanup removes merged data;
resumable builds skip committed chunks."""

from __future__ import annotations

import os

import pytest

from inverted_index_spark.operators.bm25 import bm25_topk
from inverted_index_spark.operators.build import (
    SegmentWriter,
    build_index,
    build_index_resumable,
)
from inverted_index_spark.operators.merge import merge_segments, merge_until_one
from inverted_index_spark.operators.query import read_all_values, read_terms
from inverted_index_spark.sources.store import SegmentStore
from inverted_index_spark.sources.transcripts import generate_transcripts


@pytest.fixture(params=["parquet", "iceberg_mock"])
def store(tmp_path, request):
    """EVERY merge/cleanup/resumability contract runs against BOTH
    manifest backends (round-4): the parquet gen-file CAS and the
    Iceberg adapter over the mock catalog (tests/iceberg_mock) — the
    adapter's semantics are pinned everywhere the parquet store's are."""
    if request.param == "iceberg_mock":
        from tests.iceberg_mock import make_mock_iceberg_store

        return make_mock_iceberg_store(str(tmp_path / "idx"))
    return SegmentStore(str(tmp_path / "idx"))


def _state(spark, store):
    terms = [r["term"] for r in read_terms(spark, store).collect()]
    vals = [r["doc_id"] for r in read_all_values(spark, store, terms).collect()]
    return terms, vals


def test_merge_invariance(spark, store):
    # 4 overlapping files merged in passes of (min=2, max=3)
    datasets = [
        [("term0", [0])],
        [("term0", [0])],
        [("term1", [1])],
        [("term2", [2])],
    ]
    for rows in datasets:
        w = SegmentWriter(spark, store)
        for t, v in rows:
            w.put(t, v)
        w.close()
    before = _state(spark, store)
    assert before == (["term0", "term1", "term2"], [0, 1, 2])
    passes = 0
    while True:
        sid = merge_segments(spark, store, min_files=2, max_files=3)
        if sid is None:
            break
        passes += 1
        assert _state(spark, store) == before  # invariance after EVERY pass
    assert passes >= 1
    assert len(store.live_segments()) == 1


def test_merge_bm25_invariance(spark, store, tmp_path):
    docs = generate_transcripts(spark, 300, include_doc_id=True).cache()
    # two halves built as separate segments
    build_index(spark, docs.where("doc_id % 2 = 0"), store, bucket_size=64)
    build_index(spark, docs.where("doc_id % 2 = 1"), store, bucket_size=64)
    q = ["w00000", "w00005"]
    before = [(r["doc_id"], round(r["score"], 9)) for r in bm25_topk(spark, store, q, 10).collect()]
    merge_until_one(spark, store)
    after = [(r["doc_id"], round(r["score"], 9)) for r in bm25_topk(spark, store, q, 10).collect()]
    assert before == after
    assert len(store.live_segments()) == 1


def test_merge_preserves_empty_postings_terms(spark, store):
    """Compaction over a store containing Put(term, []) registrations
    (df=0 rows) must neither crash nor drop the empty terms — the
    reference FST keeps them enumerable after any merge
    (single_test.go:74-86) and merge.py's invariant says merging never
    changes read_terms."""
    w = SegmentWriter(spark, store)
    w.put("emptyterm", [])
    w.put("real", [1, 2])
    w.close()
    w2 = SegmentWriter(spark, store)
    w2.put("alsoempty", [])
    w2.put("emptyterm", [])  # same empty term registered twice across segments
    w2.put("other", [3])
    w2.close()
    before = _state(spark, store)
    assert before == (["alsoempty", "emptyterm", "other", "real"], [1, 2, 3])
    sid = merge_segments(spark, store, min_files=2, max_files=3)
    assert sid is not None
    assert _state(spark, store) == before
    # the empty terms read as empty posting lists, not errors
    assert read_all_values(spark, store, ["emptyterm", "alsoempty"]).count() == 0
    assert len(store.live_segments()) == 1


def test_cleanup_removes_merged(spark, store):
    for i in range(3):
        w = SegmentWriter(spark, store)
        w.put(f"t{i}", [i])
        w.close()
    merge_until_one(spark, store)
    m = store.read_manifest()
    merged_ids = list(m[m["status"] == "merged"]["segment_id"])
    assert merged_ids
    deleted = store.cleanup()
    assert set(deleted) == set(merged_ids)
    for sid in merged_ids:
        assert not os.path.isdir(store.seg_dir(sid))
    # reads still correct after cleanup
    assert [r["term"] for r in read_terms(spark, store).collect()] == ["t0", "t1", "t2"]


def test_resumable_build_skips_committed(spark, store):
    docs = generate_transcripts(spark, 250, include_doc_id=True).cache()
    ids1 = build_index_resumable(spark, docs, store, n_chunks=3, build_id="b1",
                                 bucket_size=32)
    assert len(ids1) >= 2
    # "restart": same build_id — all chunks already committed, no new segments
    ids2 = build_index_resumable(spark, docs, store, n_chunks=3, build_id="b1",
                                 bucket_size=32)
    assert ids2 == ids1
    assert len(store.live_segments()) == len(ids1)


def test_failed_merge_leaves_no_residue(spark, tmp_path, monkeypatch):
    """A merge that fails before its commit removes its half-written
    segment directory, leaves the manifest untouched, and carries a
    writer thread's error on the exception it raises."""
    from pyspark.sql import functions as F

    from inverted_index_spark.operators import positions

    store = SegmentStore(str(tmp_path / "idx"))
    w = SegmentWriter(spark, store)
    w.put("a", [1, 2, 3])
    w.close()
    w = SegmentWriter(spark, store)
    w.put("a", [4, 5])
    w.close()
    seg_root = os.path.join(store.root, "segments")
    before = sorted(os.listdir(seg_root))
    gen = store.current_generation()

    def fail_positions(*_a, **_k):
        raise RuntimeError("positions rewrite failed")

    def failing_docstats(spark, *_a, **_k):
        return spark.range(1).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") >= 0, F.raise_error("docstats writer failed"))
            .cast("long")
            .alias("dl"),
        )

    monkeypatch.setattr(positions, "merge_positions", fail_positions)
    monkeypatch.setattr(store, "read_docstats", failing_docstats)
    with pytest.raises(RuntimeError, match="positions rewrite failed") as err:
        merge_segments(spark, store, min_files=2)
    assert sorted(os.listdir(seg_root)) == before
    assert store.current_generation() == gen
    assert any("docstats writer failed" in n for n in err.value.__notes__)
