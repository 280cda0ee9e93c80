"""Port of the reference's table-driven API tests
(/root/reference/single/single_test.go:18-322 and
/root/reference/multiple/multiple_index_test.go:21-149) against the
Spark engine — FIXTURES.md §A."""

from __future__ import annotations

import pytest

from inverted_index_spark.operators.build import (
    ErrDuplicateTerm,
    ErrEmptyIndex,
    SegmentWriter,
)
from inverted_index_spark.operators.query import (
    and_values,
    read_all_values,
    read_terms,
    read_values,
)
from inverted_index_spark.sources.store import SegmentStore


@pytest.fixture()
def store(tmp_path):
    return SegmentStore(str(tmp_path / "idx"))


def _write(spark, store, rows, **kw):
    w = SegmentWriter(spark, store, **kw)
    for term, vals in rows:
        w.put(term, vals)
    return w.close()


def _vals(df):
    return [r["doc_id"] for r in df.collect()]


def _terms(df):
    return [r["term"] for r in df.collect()]


def test_duplicate_term(spark, store):
    w = SegmentWriter(spark, store)
    w.put("term", [1])
    with pytest.raises(ErrDuplicateTerm):
        w.put("term", [2])


def test_empty_index_error(spark, store):
    with pytest.raises(ErrEmptyIndex):
        SegmentWriter(spark, store).close()


def test_empty_postings(spark, store):
    # reference single_test.go:74-86: Put(term, []) registers the term
    # (ReadTerms enumerates it) while ReadValues stays empty
    _write(spark, store, [("term", [])])
    assert _vals(read_all_values(spark, store, ["term"])) == []
    assert _terms(read_terms(spark, store)) == ["term"]


def test_empty_postings_mixed(spark, store):
    _write(spark, store, [("a", [1, 2]), ("empty", []), ("z", [3])])
    assert _terms(read_terms(spark, store)) == ["a", "empty", "z"]
    assert _vals(read_all_values(spark, store, ["empty"])) == []
    assert _vals(read_all_values(spark, store, ["a", "empty"])) == [1, 2]


def test_bucket_size_pinned_per_store(spark, store, tmp_path):
    """Buckets are disjoint doc ranges across segments ONLY when every
    segment shares one bucket_size; a mismatched build must fail loudly
    (mixing widths double-counted docs at query time before the guard)."""
    from inverted_index_spark.operators.build import build_index

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} shared") for i in range(64)], "doc_id long, text string"
    )
    build_index(spark, docs, store, bucket_size=16)
    with pytest.raises(ValueError, match="pinned to bucket_size=16"):
        build_index(spark, docs, store, bucket_size=32)
    # same width: fine, and cross-segment reads dedup (no double counts)
    build_index(spark, docs, store, bucket_size=16)
    vals = _vals(read_all_values(spark, store, ["shared"]))
    assert vals == list(range(64))


def test_jvm_python_tokenizer_parity(spark):
    """The JVM hot-path tokenizer and the Python oracle kernel are the
    same contract on NFC input (unicode, caps, length bounds, dups)."""
    from inverted_index_spark.functions.tokenizer import tokenize, tokenize_arrow

    texts = [
        "Héllo мир foo_bar 123 التقديم חתונה бесплатно zx9uyv",
        "ÅNGSTRÖM ß STRASSE İstanbul ligature ﬁne",
        "x" * 70 + " ok a 12.5 co-op co-op the the the",
        "ελληνικά ΣΊΣΥΦΟΣ end",
        "", "   ", "a",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    jvm = {
        (r["doc_id"], r["term"]): (r["tf"], r["dl"])
        for r in tokenize(docs).collect()
    }
    py = {
        (r["doc_id"], r["term"]): (r["tf"], r["dl"])
        for r in tokenize_arrow(docs).collect()
    }
    assert jvm == py and len(jvm) > 10


def test_read_terms_sorted_idempotent(spark, store):
    _write(spark, store, [("b", [2]), ("a", [1]), ("c", [3])])
    q = read_terms(spark, store)
    assert _terms(q) == ["a", "b", "c"]
    assert _terms(q) == ["a", "b", "c"]  # re-callable (single_test.go:37-57)


def test_missing_term(spark, store):
    _write(spark, store, [("term", [1])])
    assert _vals(read_all_values(spark, store, ["UNKNOWN"])) == []


def test_partially_missing_terms(spark, store):
    _write(spark, store, [("term", [1])])
    assert _vals(read_all_values(spark, store, ["term", "UNKNOWN"])) == [1]


def test_empty_query_terms(spark, store):
    _write(spark, store, [("term", [1])])
    assert _vals(read_all_values(spark, store, [])) == []


def test_union_two_terms(spark, store):
    # single_test.go:149-160
    _write(spark, store, [("term1", [10, 20]), ("term2", [1, 20, 30])])
    assert _vals(read_all_values(spark, store, ["term1", "term2"])) == [1, 10, 20, 30]


def test_multi_block(spark, store):
    # single_test.go:162-173 (segmentSize=2 → block_size=2)
    _write(
        spark, store,
        [("term1", [1, 2, 3, 4]), ("term2", [1, 3, 5, 7, 9])],
        block_size=2,
    )
    assert _vals(read_all_values(spark, store, ["term1", "term2"])) == [1, 2, 3, 4, 5, 7, 9]


@pytest.mark.parametrize(
    "rows,terms,lo,hi,expect",
    [
        ([("term1", [1, 2, 3, 4])], ["term1"], 2, 3, [2, 3]),          # :175-185
        ([("term1", [1, 5, 10, 20])], ["term1"], 9, 999, [10, 20]),    # :187-197
        ([("term1", [1, 5, 10, 20])], ["term1"], 0, 7, [1, 5]),        # :199-209
        (
            [("term", [1, 3, 7]), ("term2", [4, 6, 8, 10])],
            ["term", "term2"], 7, 999, [7, 8, 10],
        ),                                                              # :211-222
    ],
)
def test_range_scoping(spark, store, rows, terms, lo, hi, expect):
    _write(spark, store, rows, block_size=2)
    assert _vals(read_values(spark, store, terms, lo, hi)) == expect


def test_unicode_terms(spark, store):
    # single_test.go:238-252
    rows = [(t, [1]) for t in ["التقديم", "חתונה", "бесплатно", "zx9uyv"]]
    _write(spark, store, rows)
    assert _vals(read_all_values(spark, store, ["бесплатно"])) == [1]


def test_long_term_list_ignores_escaped_string_literals(spark, store):
    # lists past the isin cutoff render one SQL IN string; a term with
    # a quote or backslash must match whatever the parser conf says
    odd = ["it's", "a\\b", "'", "\\'", "c\\\\d"]
    plain = [f"t{i:02d}" for i in range(40)]
    _write(spark, store, [(t, [i]) for i, t in enumerate(odd + plain)])
    key = "spark.sql.parser.escapedStringLiterals"
    old = spark.conf.get(key)
    try:
        for mode in ("false", "true"):
            spark.conf.set(key, mode)
            got = _vals(read_all_values(spark, store, odd + plain))
            assert got == list(range(len(odd + plain))), mode
            got = _vals(read_all_values(spark, store, odd[:2] + plain))
            assert got == [0, 1] + list(range(len(odd), len(odd + plain))), mode
    finally:
        spark.conf.set(key, old)


def test_values_dedup_within_put(spark, store):
    # writer sort-dedups values (sliceSortUnique, single/single.go:230-256)
    _write(spark, store, [("t", [5, 1, 5, 3, 1])])
    assert _vals(read_all_values(spark, store, ["t"])) == [1, 3, 5]


def test_multi_file_dedup(spark, store):
    # multiple_index_test.go:93-135: many files with overlapping data
    for _ in range(5):
        _write(spark, store, [("term1", [1, 2]), ("term2", [2, 3])])
    assert _terms(read_terms(spark, store)) == ["term1", "term2"]
    assert _vals(read_all_values(spark, store, ["term1", "term2"])) == [1, 2, 3]


def test_and_values(spark, store):
    _write(spark, store, [("a", [1, 2, 5]), ("b", [2, 3, 5]), ("c", [5, 9])])
    assert _vals(and_values(spark, store, ["a", "b"])) == [2, 5]
    assert _vals(and_values(spark, store, ["a", "b", "c"])) == [5]
    assert _vals(and_values(spark, store, ["a", "zz"])) == []


def test_and_values_multi_segment_dedup(spark, store):
    # round-6 bucket-intersect kernel: duplicate (term, doc) rows across
    # segments must count ONCE toward the k-of-k intersection (doc 2
    # carries "a" in two segments but never "b" — it must not leak in),
    # and range scoping applies inside the kernel
    _write(spark, store, [("a", [1, 2, 5]), ("b", [2, 5, 9])])
    _write(spark, store, [("a", [2, 7]), ("b", [7])])
    assert _vals(and_values(spark, store, ["a", "b"])) == [2, 5, 7]
    assert _vals(and_values(spark, store, ["a", "b"], 3, 7)) == [5, 7]
    assert _vals(read_values(spark, store, ["a", "b"], 2, 7)) == [2, 5, 7]


def test_bucket_spanning_postings(spark, store):
    # postings crossing doc-bucket boundaries reassemble correctly
    vals = [1, 2, 70000, 70001, 200000]
    _write(spark, store, [("t", vals)], bucket_size=1 << 16)
    assert _vals(read_all_values(spark, store, ["t"])) == vals
    assert _vals(read_values(spark, store, ["t"], 3, 70000)) == [70000]


def test_fragment_build_equals_shuffled(spark, tmp_path):
    """shuffle=False fragment encode (the reference's file-per-source
    ingest shape): identical read_terms / read_values / BM25 results to
    the shuffled build on doc-disjoint input partitions, before AND
    after one compaction pass rewrites the fragments."""
    from inverted_index_spark.operators.bm25 import bm25_topk
    from inverted_index_spark.operators.build import build_index
    from inverted_index_spark.sources.transcripts import generate_transcripts

    docs = generate_transcripts(spark, 600, include_doc_id=True).cache()
    a = SegmentStore(str(tmp_path / "shuffled"))
    b = SegmentStore(str(tmp_path / "fragments"))
    build_index(spark, docs, a, bucket_size=128)
    build_index(spark, docs, b, bucket_size=128, shuffle=False)

    # fragments really happened: more rows than distinct (bucket, term)
    frag_rows = b.read_postings(spark)
    assert frag_rows.count() > frag_rows.select("bucket", "term").distinct().count()

    qs = [["w00000"], ["w00001", "w00003"], ["бесплатно", "w00002"]]

    def snap(store):
        out = [[r["term"] for r in read_terms(spark, store).collect()]]
        for q in qs:
            out.append([r["doc_id"] for r in read_all_values(spark, store, q).collect()])
            out.append(
                [(r["doc_id"], round(r["score"], 9))
                 for r in bm25_topk(spark, store, q, 10).collect()]
            )
        return out

    assert snap(b) == snap(a)
    # compact the single fragmented segment (min_files=1: a rewrite
    # pass over one segment is exactly fragment consolidation)
    from inverted_index_spark.operators.merge import merge_segments

    assert merge_segments(spark, b, min_files=1, max_files=4) is not None
    b.cleanup()
    merged_rows = b.read_postings(spark)
    assert merged_rows.count() == merged_rows.select("bucket", "term").distinct().count()
    assert snap(b) == snap(a)


def test_store_rejects_bad_directory(tmp_path):
    """M1 parity (multiple/multiple_index.go:466-487): opening an
    existing path validates directory-ness and READ mode bits up front
    with a clear error. Write-protection must NOT fail the open — a
    read-only mount / protected snapshot stays searchable — but any
    WRITE into it fails up front (_require_writable), not mid-job."""
    import os

    f = tmp_path / "a_file"
    f.write_text("x")
    with pytest.raises(NotADirectoryError, match="not a directory"):
        SegmentStore(str(f))

    unwritable = tmp_path / "ro"
    unwritable.mkdir()
    os.chmod(unwritable, 0o555)
    try:
        ro = SegmentStore(str(unwritable))  # open + reads are fine
        assert ro.read_manifest().empty
        with pytest.raises(PermissionError, match="not writable"):
            ro._commit_manifest(lambda m, base: m)
        with pytest.raises(PermissionError, match="not writable"):
            ro.cleanup()
    finally:
        os.chmod(unwritable, 0o755)

    unreadable = tmp_path / "wo"
    unreadable.mkdir()
    os.chmod(unreadable, 0o222)
    try:
        with pytest.raises(PermissionError, match="not readable"):
            SegmentStore(str(unreadable))
    finally:
        os.chmod(unreadable, 0o755)

    # a missing root is fine — builds create it
    SegmentStore(str(tmp_path / "not_yet"))
