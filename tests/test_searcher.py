"""Searcher (open-once query-many) must agree with the one-shot
operators exactly — both WAND and exhaustive paths — and with the
pure-pandas oracle."""

from __future__ import annotations

import pytest

from inverted_index_spark.operators.bm25 import bm25_topk
from inverted_index_spark.operators.build import SegmentWriter, build_index
from inverted_index_spark.operators.query import read_values
from inverted_index_spark.operators.search import Searcher
from inverted_index_spark.sources.store import SegmentStore
from inverted_index_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    store = SegmentStore(str(tmp_path_factory.mktemp("searcher") / "idx"))
    docs = generate_transcripts(spark, 600, include_doc_id=True)
    build_index(spark, docs, store, bucket_size=128, block_size=32)
    return store, Searcher(spark, store).open()


QUERIES = [
    ["w00000"],
    ["w00001", "w00002"],
    ["w00042", "w00007", "w00123", "w00999", "w05000"],
    ["doesnotexist"],
    ["бесплатно", "w00000"],
]


@pytest.fixture(scope="module")
def two_segments(spark, tmp_path_factory):
    """Two un-merged segments that both hold the postings (a, 6) and
    (b, 7): the pre-compaction overlap a search must count once."""
    store = SegmentStore(str(tmp_path_factory.mktemp("searcher2") / "idx"))
    for postings in (
        {"a": range(0, 400, 3), "b": [5, 7, 300], "c": range(1, 400, 7)},
        {"a": [6, 401, 402], "b": [7, 403]},
    ):
        w = SegmentWriter(spark, store, bucket_size=128, block_size=16)
        for term, docs in postings.items():
            w.put(term, list(docs))
        w.close()
    assert len(store.live_segments()) == 2
    return store, Searcher(spark, store).open()


@pytest.mark.parametrize(
    "store_fx, terms",
    [pytest.param("setup", q, id=f"terms{i}") for i, q in enumerate(QUERIES)]
    + [pytest.param("two_segments", ["a", "b", "c"], id="two_segments")],
)
def test_searcher_topk_matches_oneshot(spark, request, store_fx, terms):
    store, searcher = request.getfixturevalue(store_fx)
    oneshot = [
        (r["doc_id"], round(r["score"], 10))
        for r in bm25_topk(spark, store, terms, 10).collect()
    ]
    naive = [
        (r["doc_id"], round(r["score"], 10))
        for r in searcher.topk(terms, 10, use_wand=False).collect()
    ]
    wand = [
        (r["doc_id"], round(r["score"], 10))
        for r in searcher.topk(terms, 10, use_wand=True).collect()
    ]
    assert naive == oneshot
    assert wand == oneshot


def test_read_values_batch_matches_singles(spark, setup):
    """One-job batched R10 reads == per-query reads, per qid."""
    store, searcher = setup
    qs = {
        "a": (["w00000"], 50, 400),
        "b": (["w00001", "w00002"], None, None),
        "c": (["w00003", "missing_term"], 100, None),
        "d": ([], None, None),  # empty term list → no rows for d
    }
    batched = {}
    for r in searcher.read_values_batch(qs).collect():
        batched.setdefault(r["qid"], []).append(r["doc_id"])
    for qid, (ts, lo, hi) in qs.items():
        single = [r["doc_id"] for r in searcher.read_values(ts, lo, hi).collect()]
        assert batched.get(qid, []) == single, qid


def test_batched_paths_broadcast_query_map(spark, setup, monkeypatch):
    """Forcing the broadcast path (threshold 0 → every qmap ships via
    sc.broadcast instead of the task closure) must not change results
    — topk_batch and read_values_batch both (round-3: a 100k-query
    batch would otherwise re-serialize the map into every task)."""
    import inverted_index_spark.operators.search as search_mod

    store, searcher = setup
    qs_topk = {"q1": ["w00000"], "q2": ["w00001", "w00002"]}
    qs_read = {"a": (["w00000"], 50, 400), "b": (["w00001", "w00002"], None, None)}
    plain_topk = [tuple(r) for r in searcher.topk_batch(qs_topk, k=5).collect()]
    plain_read = [tuple(r) for r in searcher.read_values_batch(qs_read).collect()]
    monkeypatch.setattr(search_mod, "BROADCAST_QMAP_THRESHOLD", 0)
    bc_topk = [tuple(r) for r in searcher.topk_batch(qs_topk, k=5).collect()]
    bc_read = [tuple(r) for r in searcher.read_values_batch(qs_read).collect()]
    assert bc_topk == plain_topk and len(plain_topk) > 0
    assert bc_read == plain_read and len(plain_read) > 0


def test_searcher_read_values_matches(spark, setup):
    store, searcher = setup
    terms = ["w00000", "w00005"]
    a = [r["doc_id"] for r in read_values(spark, store, terms, 50, 400).collect()]
    b = [r["doc_id"] for r in searcher.read_values(terms, 50, 400).collect()]
    assert a == b and len(a) > 0


def test_read_values_latency_gate_parity(spark, setup):
    """The single-task small-read plan (df-bound gate on) must return
    exactly the declarative distinct().orderBy() result — same rows,
    same order — for ranged, open-ended, and missing-term reads."""
    _, searcher = setup
    assert searcher._df_complete  # single-segment module store → gate armed
    cases = [
        (["w00000", "w00005"], 50, 400),
        (["w00001", "w00002", "w00042"], None, None),
        (["бесплатно", "w00000"], 100, None),
        (["doesnotexist"], None, None),
    ]
    cap = Searcher.SMALL_READ_CAP
    try:
        for terms, lo, hi in cases:
            gated = [r["doc_id"] for r in searcher.read_values(terms, lo, hi).collect()]
            Searcher.SMALL_READ_CAP = -1  # force the declarative plan
            plain = [r["doc_id"] for r in searcher.read_values(terms, lo, hi).collect()]
            Searcher.SMALL_READ_CAP = cap
            assert gated == plain
    finally:
        Searcher.SMALL_READ_CAP = cap


def test_topk_latency_gate_parity(spark, setup):
    """The single-task small-query top-k plan must return the same
    (doc_id, rounded score) rows in the same order as the declarative
    bucket-kernel + TakeOrdered plans — both WAND and exhaustive."""
    _, searcher = setup
    assert searcher._df_complete
    cap = Searcher.SMALL_READ_CAP
    try:
        for terms in QUERIES:
            for k in (3, 10, 10_000):  # k beyond the result count too
                gated = [
                    (r["doc_id"], round(r["score"], 10))
                    for r in searcher.topk(terms, k).collect()
                ]
                Searcher.SMALL_READ_CAP = -1  # force the declarative plans
                for wand in (True, False):
                    plain = [
                        (r["doc_id"], round(r["score"], 10))
                        for r in searcher.topk(terms, k, use_wand=wand).collect()
                    ]
                    assert gated == plain, (terms, k, wand)
                Searcher.SMALL_READ_CAP = cap
    finally:
        Searcher.SMALL_READ_CAP = cap


def test_topk_batch_latency_gate_parity(spark, setup):
    """The single-task batch plan must return exactly the bucket plan's
    rows — same ranks, bit-identical scores — against both bucket
    scorers, for k beyond the result count too, a query with one
    missing term, and a query whose terms are all missing."""
    _, searcher = setup
    assert searcher._df_complete
    qs = {
        "a": ["w00000"],
        "b": ["w00001", "w00002"],
        "c": ["w00042", "w00007", "w00123", "w00999", "w05000"],
        "d": ["бесплатно", "w00000", "doesnotexist"],
        "e": ["doesnotexist", "nosuchterm"],
    }
    cap = Searcher.SMALL_READ_CAP
    try:
        for k in (3, 10, 10_000):
            gated = sorted(map(tuple, searcher.topk_batch(qs, k).collect()))
            assert {r[0] for r in gated} == {"a", "b", "c", "d"}
            Searcher.SMALL_READ_CAP = -1  # force the bucket plan
            for wand in (True, False):
                plain = sorted(
                    map(tuple, searcher.topk_batch(qs, k, use_wand=wand).collect())
                )
                assert gated == plain, (k, wand)
            Searcher.SMALL_READ_CAP = cap
    finally:
        Searcher.SMALL_READ_CAP = cap


def test_topk_batch_wand_equals_exhaustive(spark, setup):
    """Both batched scorers are exact: WAND pruning vs the vectorized
    exhaustive default must agree row-for-row."""
    _, searcher = setup
    qs = {
        "a": ["w00000"],
        "b": ["w00001", "w00002"],
        "c": ["w00010", "w00500", "w05000"],
        "d": ["nosuchterm"],
    }
    wand = sorted(map(tuple, searcher.topk_batch(qs, k=7, use_wand=True).collect()))
    ex = sorted(map(tuple, searcher.topk_batch(qs, k=7, use_wand=False).collect()))
    assert wand == ex


def test_searcher_boolean_search(spark, tmp_path):
    """Searcher.search: boolean queries over the warm caches must equal
    the store-scan evaluator (round-4 open-once query-many surface)."""
    import tempfile

    from inverted_index_spark.operators.boolean import evaluate, parse_query
    from inverted_index_spark.operators.build import build_index

    store = SegmentStore(str(tmp_path / "bool_idx"))
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "quick brown foxes again quick"),
            (2, "a lazy dog sleeps"),
            (3, "brown dog brown fox"),
        ],
        "doc_id long, text string",
    )
    build_index(spark, docs, store, bucket_size=2, positions=True)
    s = Searcher(spark, store).open()
    for qs in [
        "quick OR dog",
        '(quick -fox) OR "brown fox"',
        'dog "quick brown"~1',
        "brow* -lazy",
    ]:
        cached = [r["doc_id"] for r in s.search(qs).collect()]
        cold = [
            r["doc_id"] for r in evaluate(spark, store, parse_query(qs)).collect()
        ]
        assert cached == cold, qs
    s.close()


def test_searcher_fielded_search_warm(spark, tmp_path):
    """Field clauses through an open Searcher ride warm per-field
    sub-searchers (round-5): results equal the cold store-scan
    evaluator, and the warm plan reads the field postings from the
    cache (no parquet scan of the field store)."""
    from inverted_index_spark.operators.boolean import evaluate, parse_query
    from inverted_index_spark.operators.build import build_field_indexes, build_index

    store = SegmentStore(str(tmp_path / "f_idx"))
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "quick brown foxes again quick"),
            (2, "a lazy dog sleeps"),
            (3, "brown dog brown fox"),
        ],
        "doc_id long, text string",
    )
    build_index(spark, docs, store, bucket_size=2, positions=True)
    meta = spark.createDataFrame(
        [(0, "en"), (1, "de"), (2, "en"), (3, "de")], "doc_id long, lang string"
    )
    fs = build_field_indexes(spark, meta, str(tmp_path / "fields"), ["lang"], bucket_size=2)
    s = Searcher(spark, store).open()
    for qs in ["quick lang:en", "(dog OR fox) -lang:de", "lang:de"]:
        warm = [r["doc_id"] for r in s.search(qs, field_stores=fs).collect()]
        cold = [
            r["doc_id"]
            for r in evaluate(spark, store, parse_query(qs), field_stores=fs).collect()
        ]
        assert warm == cold, qs
    # the warm plan must NOT rescan the field store's parquet: its
    # postings come from the sub-searcher's InMemoryRelation
    plan = s.search("quick lang:en", field_stores=fs)._jdf.queryExecution().executedPlan().toString()
    assert fs["lang"].root not in plan
    assert "InMemoryTableScan" in plan
    s.close()
