"""Plan-shape assertions: the predicates must reach the parquet scan
(PushedFilters) — the engine's replacement for the reference's FST
point-lookups and segment pruning (SURVEY.md §4)."""

from __future__ import annotations

import pytest

from inverted_index_spark.operators.build import build_index
from inverted_index_spark.operators.query import matching_rows
from inverted_index_spark.plans import (
    count_exchanges,
    count_exchanges_above_cache,
    formatted_plan,
    pushed_filters,
)
from inverted_index_spark.sources.store import SegmentStore
from inverted_index_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    s = SegmentStore(str(tmp_path_factory.mktemp("plans") / "idx"))
    docs = generate_transcripts(spark, 300, include_doc_id=True)
    build_index(spark, docs, s, bucket_size=64)
    return s


def test_term_predicate_pushed_to_scan(spark, store):
    m = matching_rows(spark, store, ["w00000", "w00001"], 10, 200)
    pf = pushed_filters(m)
    assert "In(term" in pf
    assert "max_doc" in pf and "min_doc" in pf


def test_matching_rows_no_exchange(spark, store):
    # a pruned metadata read is scan+filter only — no shuffle
    m = matching_rows(spark, store, ["w00000"])
    assert count_exchanges(m) == 0


def test_prefix_predicate_pushed_to_scan(spark, store):
    # StartsWith is a pushable parquet predicate — the FST range-seek
    # analog must prune at the scan, not post-filter
    from pyspark.sql import functions as F

    rows = store.read_postings(spark).where(F.col("term").startswith("w00"))
    assert "StartsWith(term" in pushed_filters(rows)


def test_regex_scan_reads_only_term_column(spark, store):
    # the regex dictionary scan must never read posting bytes
    import io
    from contextlib import redirect_stdout

    from inverted_index_spark.operators.query import read_terms_regex

    buf = io.StringIO()
    with redirect_stdout(buf):
        read_terms_regex(spark, store, "w0+1").explain("formatted")
    scan = [l for l in buf.getvalue().splitlines() if "ReadSchema" in l]
    assert scan and all("postings" not in l and "tfs" not in l for l in scan), scan


def test_bm25_scores_single_segment_skips_dedup_exchange(spark, store):
    """Round-4: a single live segment has disjoint buckets, so the
    (term, doc_id) dropDuplicates guard is pure waste there — the plan
    must carry exactly ONE exchange (the groupBy(doc_id) sum), not two."""
    from inverted_index_spark.operators.bm25 import bm25_scores

    assert len(store.live_segments()) == 1
    df = bm25_scores(spark, store, ["w00000", "w00001"])
    # count_exchanges counts 2 lines per physical exchange (tree line +
    # detail header) — one exchange = 2, the dedup would add 2 more
    assert count_exchanges(df) == 2


def test_bm25_scores_multi_segment_keeps_dedup(spark, tmp_path_factory):
    """Pre-compaction overlap still dedups (and still scores right)."""
    from pyspark.sql import functions as F

    from inverted_index_spark.operators.bm25 import bm25_scores

    s = SegmentStore(str(tmp_path_factory.mktemp("plans2") / "idx"))
    docs = generate_transcripts(spark, 120, include_doc_id=True)
    build_index(spark, docs, s, bucket_size=64)
    # second segment REPEATS the same docs (worst-case overlap)
    build_index(spark, docs, s, bucket_size=64)
    assert len(s.live_segments()) == 2
    df = bm25_scores(spark, s, ["w00000"])
    assert count_exchanges(df) >= 4  # dedup + final agg (2 lines each)
    # overlap must not double-score: every tf/dl pair identical, so the
    # deduped score equals the single-segment score
    single = SegmentStore(str(tmp_path_factory.mktemp("plans3") / "idx"))
    build_index(spark, docs, single, bucket_size=64)
    a = {r["doc_id"]: r["score"] for r in df.collect()}
    b = {r["doc_id"]: r["score"] for r in bm25_scores(spark, single, ["w00000"]).collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[d] - b[d]) < 1e-12 for d in a)


def test_term_bloom_filter_written(spark, tmp_path, monkeypatch):
    """The postings build must carry a parquet bloom filter on `term`
    (round-4): a point/IN lookup whose probe falls inside a row group's
    min/max range but is absent then skips the group (the FST-
    membership role). Parquet only MATERIALIZES the bloom for
    high-NDV chunks (a fully dictionary-encoded small vocab already
    gives exact membership), so this builds a 100k-term corpus through
    build_index twice — with the options and with them monkeypatched
    away — and asserts the bloom bytes landed; pyarrow doesn't expose
    bloom offsets, so the byte delta of otherwise-identical builds is
    the proof."""
    import os

    from pyspark.sql import functions as F

    from inverted_index_spark.operators import build as build_mod

    docs = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(4)),
                lambda i: F.concat(F.lit("u"), (F.col("id") * 5 + i).cast("string")),
            ),
            " ",
        ).alias("text"),
    )

    def total_bytes(path):
        return sum(
            os.path.getsize(os.path.join(r, n))
            for r, _, ns in os.walk(path)
            for n in ns
            if n.endswith(".parquet")
        )

    s_bloom = SegmentStore(str(tmp_path / "bloom_idx"))
    sid_b = build_index(spark, docs, s_bloom, bucket_size=20000)
    monkeypatch.setattr(build_mod, "TERM_BLOOM_OPTS", {})
    s_plain = SegmentStore(str(tmp_path / "plain_idx"))
    sid_p = build_index(spark, docs, s_plain, bucket_size=20000)
    b = total_bytes(os.path.join(s_bloom.seg_dir(sid_b), "postings"))
    p = total_bytes(os.path.join(s_plain.seg_dir(sid_p), "postings"))
    assert b > p + 50_000, f"no bloom bytes in the built postings ({b} vs {p})"
    # reads through the bloom-bearing store stay exact
    m = matching_rows(spark, s_bloom, ["u0", "u42", "nosuchterm"])
    assert {r["term"] for r in m.select("term").collect()} == {"u0", "u42"}


def test_ranked_topk_compiles_to_take_ordered(spark, store):
    """ranked_topk's final orderBy().limit() must compile to
    TakeOrderedAndProject (per-partition heaps + k-row merge), never a
    global sort materialization."""
    from inverted_index_spark.operators.boolean import ranked_topk
    from inverted_index_spark.plans import formatted_plan

    df = ranked_topk(spark, store, "w00000 OR w00001", k=5)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_percolate_broadcasts_query_side(spark):
    """percolate: the stored-query literal tables must broadcast (the
    doc side is corpus-sized and must never shuffle its text; the
    query side is KB-sized by design)."""
    from inverted_index_spark.operators.percolate import percolate
    from inverted_index_spark.plans import formatted_plan

    docs = spark.createDataFrame(
        [(0, "spark shuffle merge"), (1, "quiet river")],
        "doc_id long, text string",
    )
    df = percolate(
        spark, docs, {"q1": "spark AND merge", "q2": '"quiet river"'}
    )
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the phrase-verify text side is pruned to candidate ids before
    # text rejoins candidates (LeftSemi in the plan)
    assert "LeftSemi" in plan


def test_parent_child_rollup_partial_agg(spark, store):
    """has_child: the parent rollup must be a partial-aggregated
    groupBy (two HashAggregate stages around the exchange), so a
    parent with millions of children combines map-side first."""
    from inverted_index_spark.operators.parent_child import has_child_topk
    from inverted_index_spark.plans import formatted_plan

    edges = spark.createDataFrame(
        [(i, i // 10) for i in range(100)], "doc_id long, parent_id long"
    )
    df = has_child_topk(spark, store, ["w00000"], edges, k=5)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2


def test_unigram_loglik_single_decode_pass(spark, store):
    # round-6 (VERDICT #7): the decoded pairs stream is checkpointed,
    # so the ctf aggregate and the per-doc join both read the
    # materialized RDD — the final plan contains ZERO parquet scans
    # (one decode pass happens at checkpoint materialization, not once
    # per consumer)
    from inverted_index_spark.operators.aggregations import unigram_loglik
    from inverted_index_spark.plans import formatted_plan

    ll = unigram_loglik(spark, store)
    assert "Scan parquet" not in formatted_plan(ll)
    assert ll.count() > 0  # still computes


def test_gated_small_query_plans_have_no_exchange(spark, store):
    # the df-complete latency gate (Searcher.read_values / .topk /
    # .topk_batch on a small single-segment store) must compile to a
    # single-task plan: zero Exchange operators — no distinct/orderBy
    # shuffle, no TakeOrdered merge, no qid Window
    from inverted_index_spark.operators.search import Searcher

    s = Searcher(spark, store).open()
    try:
        assert s._df_complete
        rv = s.read_values(["w00000", "w00001"], 10, 200)
        assert count_exchanges_above_cache(rv) == 0
        tk = s.topk(["w00000", "w00001"], k=10)
        assert count_exchanges_above_cache(tk) == 0
        tb = s.topk_batch({"a": ["w00000", "w00001"], "b": ["w00002"]}, k=10)
        assert count_exchanges_above_cache(tb) == 0
        assert "Window" not in formatted_plan(tb)
    finally:
        s.close()
