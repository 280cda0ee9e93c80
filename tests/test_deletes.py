"""Doc-level deletes (tombstone batches) — an extension beyond the
reference (whose segments are insert-only; Lucene is the model).

Contract under test, "as-if-rebuilt" semantics:
  - every read/search/phrase result excludes deleted docs immediately
  - BM25 stats (N, avgdl, df) reflect only surviving docs, so scores
    equal a fresh build over the surviving corpus EXACTLY
  - the term dictionary keeps a term until compaction rewrites its
    last posting away (Lucene-like), then drops it
  - compaction physically purges postings/docstats/positions/doc store
    and atomically retires fully-absorbed delete batches
  - partial merges keep delete batches live (other segments may still
    carry the docs)
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from inverted_index_spark.operators.bm25 import bm25_scores, bm25_topk
from inverted_index_spark.operators.build import build_index
from inverted_index_spark.operators.merge import merge_until_one
from inverted_index_spark.operators.query import (
    and_values,
    except_values,
    read_terms,
    read_values,
    top_terms,
)
from inverted_index_spark.operators.search import Searcher
from inverted_index_spark.sources.store import DELETES, MERGED, SegmentStore
from inverted_index_spark.sources.transcripts import generate_transcripts


def _vals(df):
    return [r["doc_id"] for r in df.collect()]


def _build(spark, root, n=400, positions=False, store_text=False, chunks=1):
    store = SegmentStore(str(root))
    docs = generate_transcripts(spark, n, include_doc_id=True)
    if chunks == 1:
        build_index(
            spark, docs, store, bucket_size=64, block_size=16,
            positions=positions, store_text=store_text,
        )
    else:
        # NOTE: generate_transcripts(n) yields ≈n turns (conv-granular,
        # can exceed n) — the last chunk is therefore unbounded above
        per = n // chunks
        for i in range(chunks):
            part = docs.where(
                (F.col("doc_id") >= i * per)
                if i == chunks - 1
                else (
                    (F.col("doc_id") >= i * per)
                    & (F.col("doc_id") < (i + 1) * per)
                )
            )
            build_index(
                spark, part, store, bucket_size=64, block_size=16,
                positions=positions, store_text=store_text,
            )
    return store, docs


def test_delete_excludes_from_reads(spark, tmp_path):
    store, _ = _build(spark, tmp_path / "idx")
    base = set(_vals(read_values(spark, store, ["w00000"])))
    victims = sorted(base)[:3]
    del_id = store.delete_docs(spark, victims)
    assert del_id is not None and store.has_deletes()
    after = set(_vals(read_values(spark, store, ["w00000"])))
    assert after == base - set(victims)
    # AND / EXCEPT / range-scoped reads honor the tombstones too
    assert set(victims).isdisjoint(
        _vals(and_values(spark, store, ["w00000", "w00001"]))
    )
    assert set(victims).isdisjoint(
        _vals(except_values(spark, store, ["w00000"], ["w19999"]))
    )
    lo, hi = min(victims), max(victims)
    assert set(victims).isdisjoint(
        _vals(read_values(spark, store, ["w00000"], lo, hi))
    )


def test_delete_empty_and_df_input(spark, tmp_path):
    store, _ = _build(spark, tmp_path / "idx", n=120)
    assert store.delete_docs(spark, []) is None
    assert not store.has_deletes()
    df = spark.createDataFrame([(1,), (2,), (2,)], "doc_id long")
    assert store.delete_docs(spark, df) is not None
    assert set(_vals(store.read_deletes(spark))) == {1, 2}


def test_bm25_matches_fresh_rebuild(spark, tmp_path):
    """Deleting docs must yield BM25 scores IDENTICAL to a fresh build
    over the surviving corpus — the strongest statement of the
    as-if-rebuilt stats contract, on both the module path and the
    Searcher's purged-cache kernels (WAND + exhaustive + batch)."""
    store, docs = _build(spark, tmp_path / "idx")
    victims = list(range(0, 400, 7))
    store.delete_docs(spark, victims)

    twin = SegmentStore(str(tmp_path / "twin"))
    build_index(
        spark,
        docs.where(~F.col("doc_id").isin(victims)),
        twin, bucket_size=64, block_size=16,
    )

    q = ["w00000", "w00001", "w00002"]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_scores(spark, store, q).orderBy("doc_id").collect()
    ]
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_scores(spark, twin, q).orderBy("doc_id").collect()
    ]
    assert got == want and len(got) > 0

    # module-level WAND path (purges matched rows before its per-bucket
    # k-truncating kernel)
    from inverted_index_spark.operators.wand import bm25_topk_wand

    gw = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_wand(spark, store, q, 10).collect()
    ]
    ww = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk_wand(spark, twin, q, 10).collect()
    ]
    assert gw == ww and len(gw) == 10

    s = Searcher(spark, store).open()
    t = Searcher(spark, twin).open()
    try:
        for use_wand in (False, True):
            a = [
                (r["doc_id"], round(r["score"], 9))
                for r in s.topk(q, 10, use_wand=use_wand).collect()
            ]
            b = [
                (r["doc_id"], round(r["score"], 9))
                for r in t.topk(q, 10, use_wand=use_wand).collect()
            ]
            assert a == b and len(a) == 10, f"use_wand={use_wand}"
        batch = {"q1": q, "q2": ["w00003"]}
        a = [
            (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in s.topk_batch(batch, k=5).orderBy("qid", "rank").collect()
        ]
        b = [
            (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in t.topk_batch(batch, k=5).orderBy("qid", "rank").collect()
        ]
        assert a == b and len(a) == 10
        # purged-cache set reads agree with the twin too
        assert _vals(s.read_values(["w00000"])) == _vals(t.read_values(["w00000"]))
    finally:
        s.close()
        t.close()


def test_delete_phrase_and_boolean(spark, tmp_path):
    store, _ = _build(spark, tmp_path / "idx", positions=True, store_text=True)
    from inverted_index_spark.operators.positions import (
        phrase_match,
        terms_within_window,
    )

    base = set(_vals(phrase_match(spark, store, ["w00000", "w00001"])))
    prox = set(_vals(terms_within_window(spark, store, ["w00000", "w00002"], 30)))
    victims = sorted(base)[:2] + sorted(prox)[:2]
    store.delete_docs(spark, victims)
    assert set(victims).isdisjoint(
        _vals(phrase_match(spark, store, ["w00000", "w00001"]))
    )
    assert set(victims).isdisjoint(
        _vals(terms_within_window(spark, store, ["w00000", "w00002"], 30))
    )
    s = Searcher(spark, store).open()
    try:
        assert set(victims).isdisjoint(_vals(s.phrase(["w00000", "w00001"])))
        assert set(victims).isdisjoint(_vals(s.search("w00000 OR w00001")))
        # hydration never returns a deleted doc's text
        hyd = s.fetch_text(s.search("w00000 OR w00001"))
        assert hyd.where(F.col("text").isNull()).count() == 0
    finally:
        s.close()


def test_compaction_purges_and_retires(spark, tmp_path):
    store, docs = _build(spark, tmp_path / "idx", positions=True,
                         store_text=True, chunks=2)
    # pick one victim present in the index plus the whole posting list
    # of one term, so the term itself must drop from the dictionary
    tgt = "w00000"
    all_tgt = _vals(read_values(spark, store, [tgt]))
    victims = sorted(set(all_tgt) | {1, 2})
    del_id = store.delete_docs(spark, victims)
    merge_until_one(spark, store)
    m = store.read_manifest()
    row = m[m["segment_id"] == del_id]
    assert list(row["status"]) == [MERGED], "full compaction retires the batch"
    assert not store.has_deletes()
    store.cleanup()
    assert not (tmp_path / "idx" / "segments" / del_id).exists()

    # physically purged: decode every posting, no victim id anywhere
    from inverted_index_spark.operators.query import postings_df

    live_terms = [r["term"] for r in read_terms(spark, store).collect()]
    assert tgt not in live_terms, "fully-deleted term drops from the dictionary"
    remaining = postings_df(spark, store, live_terms[:50], with_tf=False)
    assert set(victims).isdisjoint(_vals(remaining))
    assert set(victims).isdisjoint(_vals(store.read_docstats(spark)))
    assert set(victims).isdisjoint(
        [r["doc_id"] for r in store.read_docs(spark).collect()]
    )
    # post-compaction equals a fresh build over survivors (BM25 + terms)
    twin = SegmentStore(str(tmp_path / "twin"))
    build_index(
        spark, docs.where(~F.col("doc_id").isin(victims)), twin,
        bucket_size=64, block_size=16,
    )
    q = ["w00001", "w00002"]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(spark, store, q, 10).collect()
    ]
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_topk(spark, twin, q, 10).collect()
    ]
    assert got == want


def test_partial_merge_keeps_deletes_live(spark, tmp_path):
    store, _ = _build(spark, tmp_path / "idx", chunks=3)
    victims = [0, 1, 2]
    del_id = store.delete_docs(spark, victims)
    from inverted_index_spark.operators.merge import merge_segments

    # merge only 2 of the 3 live segments → batch must stay live
    sid = merge_segments(spark, store, min_files=2, max_files=2)
    assert sid is not None
    m = store.read_manifest()
    assert list(m[m["segment_id"] == del_id]["status"]) == [DELETES]
    assert store.has_deletes()
    assert set(victims).isdisjoint(_vals(read_values(spark, store, ["w00000"])))
    # finishing the compaction retires it
    merge_until_one(spark, store)
    m = store.read_manifest()
    assert list(m[m["segment_id"] == del_id]["status"]) == [MERGED]


def test_top_terms_delete_aware(spark, tmp_path):
    store, _ = _build(spark, tmp_path / "idx", n=200)
    before = {r["term"]: r["df"] for r in top_terms(spark, store, 5).collect()}
    top = max(before, key=before.get)
    victims = _vals(read_values(spark, store, [top]))[:4]
    store.delete_docs(spark, victims)
    after = {r["term"]: r["df"] for r in top_terms(spark, store, 5).collect()}
    if top in after:
        assert after[top] == before[top] - 4


def test_searcher_refresh_after_delete(spark, tmp_path):
    """A Searcher opened BEFORE a delete serves its snapshot; refresh()
    picks the tombstones up (same contract as post-compaction refresh)."""
    store, _ = _build(spark, tmp_path / "idx", n=200)
    s = Searcher(spark, store).open()
    try:
        n0, _ = s.stats
        base = _vals(s.read_values(["w00000"]))
        store.delete_docs(spark, base[:2])
        assert _vals(s.read_values(["w00000"])) == base  # snapshot
        s.refresh()
        assert _vals(s.read_values(["w00000"])) == base[2:]
        n_docs, _ = s.stats
        assert n_docs == n0 - 2
    finally:
        s.close()


def test_purged_postings_codec_roundtrip(spark, tmp_path):
    """The open-time purge re-encodes posting rows; surviving ids, tf,
    dl must round-trip bit-exactly vs a numpy reference mask."""
    from inverted_index_spark.functions.codec import decode_rows_concat
    from inverted_index_spark.operators.search import _purged_postings

    def decode_row(r):
        _, docs, tfs, dls = decode_rows_concat(
            [r["postings"]], [r["tfs"]], [r["dls"]], [r["blocks"]]
        )
        return docs, tfs, dls

    store, _ = _build(spark, tmp_path / "idx", n=300)
    raw = store.read_postings(spark)
    row = (
        raw.where(F.col("df") >= 20).orderBy(F.desc("df")).limit(1).collect()[0]
    )
    d, tf, dl = decode_row(row)
    victims = [int(x) for x in d.view(np.int64)[::3]]
    store.delete_docs(spark, victims)
    purged = _purged_postings(
        spark, store, store.read_postings(spark, with_gen=True)
    )
    prow = purged.where(
        (F.col("term") == row["term"]) & (F.col("bucket") == row["bucket"])
    ).collect()[0]
    pd_, ptf, pdl = decode_row(prow)
    mask = ~np.isin(d.view(np.int64), np.array(sorted(victims), dtype=np.int64))
    np.testing.assert_array_equal(pd_.view(np.int64), d.view(np.int64)[mask])
    np.testing.assert_array_equal(ptf, tf[mask])
    np.testing.assert_array_equal(pdl, dl[mask])
    assert prow["df"] == int(mask.sum())
    assert prow["min_doc"] == int(pd_.view(np.int64)[0])
    assert prow["max_doc"] == int(pd_.view(np.int64)[-1])


def test_cli_delete(spark, tmp_path, capsys):
    store, _ = _build(spark, tmp_path / "idx", n=120)
    from inverted_index_spark.__main__ import main

    rc = main(["delete", str(tmp_path / "idx"), "3", "4"])
    assert rc == 0
    assert "committed delete batch" in capsys.readouterr().out
    assert set(_vals(store.read_deletes(spark))) == {3, 4}


@pytest.fixture(params=["parquet", "iceberg_mock"])
def any_store(tmp_path, request):
    """Delete lifecycle runs against BOTH manifest backends (the
    parquet gen-file CAS and the Iceberg adapter over the mock
    catalog), like every other store contract."""
    if request.param == "iceberg_mock":
        from tests.iceberg_mock import make_mock_iceberg_store

        return make_mock_iceberg_store(str(tmp_path / "idx"))
    return SegmentStore(str(tmp_path / "idx"))


def test_delete_lifecycle_both_backends(spark, any_store):
    from inverted_index_spark.operators.merge import merge_segments

    docs = generate_transcripts(spark, 150, include_doc_id=True)
    build_index(spark, docs, any_store, bucket_size=64, block_size=16)
    base = _vals(read_values(spark, any_store, ["w00000"]))
    assert len(base) >= 4
    victims = base[:2]
    del_id = any_store.delete_docs(spark, victims)
    assert any_store.has_deletes()
    assert _vals(read_values(spark, any_store, ["w00000"])) == base[2:]
    # full compaction (the sole segment is the victim set) purges and
    # retires the batch atomically with the swap
    sid = merge_segments(spark, any_store, min_files=1)
    assert sid is not None
    m = any_store.read_manifest()
    assert list(m[m["segment_id"] == del_id]["status"]) == [MERGED]
    assert not any_store.has_deletes()
    assert _vals(read_values(spark, any_store, ["w00000"])) == base[2:]


def test_delete_committed_mid_merge_conflicts(spark, tmp_path):
    """A delete batch committed AFTER the merge snapshots live_deletes()
    applies to the victims (their gens are lower) but would NOT scope
    over the merged output (whose gen is higher) — committing the merge
    would resurrect the deleted docs. commit_segment(expect_deletes=...)
    must detect the unseen batch and conflict; the retry purges it."""
    from inverted_index_spark.operators.merge import merge_segments

    store, _ = _build(spark, tmp_path / "idx", chunks=2)
    base = _vals(read_values(spark, store, ["w00000"]))
    victim_doc = base[0]
    orig = store.live_deletes
    state = {"fired": False}

    def sneaky():
        snap = orig()
        if not state["fired"]:
            state["fired"] = True
            SegmentStore(store.root).delete_docs(spark, [victim_doc])
        return snap

    store.live_deletes = sneaky
    try:
        sid = merge_segments(spark, store, min_files=2)
    finally:
        store.live_deletes = orig
    assert state["fired"]
    assert sid is None  # aborted, not committed un-purged
    assert victim_doc not in _vals(read_values(spark, store, ["w00000"]))
    # the retry sees the batch, purges it, and retires it with the swap
    assert merge_segments(spark, store, min_files=2) is not None
    assert victim_doc not in _vals(read_values(spark, store, ["w00000"]))
    assert not store.has_deletes()
