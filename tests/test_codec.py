"""Codec round-trip tests — port of /root/reference/single/segment_test.go
(compress/decompress identity incl. extremes 0, 500, MaxUint64) plus
randomized property checks and block-pruning semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from inverted_index_spark.functions.codec import (
    CorruptSegmentError,
    decode_rows_concat,
    decode_varint,
    encode_postings,
    encode_varint,
)


def _decode(p, t, d, blocks, min_doc=None, max_doc=None):
    """One row through the batched primitive → (doc_ids, tfs, dls)."""
    row_lens, docs, tfs, dls = decode_rows_concat(
        [p], [t], [d], [blocks], min_doc, max_doc
    )
    assert list(row_lens) == [len(docs)]
    return docs, tfs, dls


@pytest.mark.parametrize(
    "values",
    [
        [0],
        [0, 500, 2**64 - 1],  # segment_test.go extremes
        [1],
        [127, 128, 129, 16383, 16384],
        list(range(1000)),
        [2**63 - 1, 2**63, 2**64 - 1],
    ],
)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    buf, lens = encode_varint(arr)
    assert int(lens.sum()) == len(buf)
    out = decode_varint(buf)
    np.testing.assert_array_equal(out, arr)


def test_varint_roundtrip_random():
    rng = np.random.default_rng(42)
    for _ in range(20):
        n = int(rng.integers(1, 5000))
        bits = int(rng.integers(1, 64))
        arr = rng.integers(0, 2**bits, size=n, dtype=np.uint64)
        buf, _ = encode_varint(arr)
        np.testing.assert_array_equal(decode_varint(buf), arr)


def test_varint_empty():
    buf, lens = encode_varint(np.zeros(0, dtype=np.uint64))
    assert buf == b""
    assert len(decode_varint(buf)) == 0


def _mk(n, seed=7, max_doc=10**7):
    rng = np.random.default_rng(seed)
    docs = np.unique(rng.integers(0, max_doc, size=n, dtype=np.uint64))
    tfs = rng.integers(1, 50, size=len(docs), dtype=np.uint64)
    dls = rng.integers(3, 80, size=len(docs), dtype=np.uint64)
    return docs, tfs, dls


@pytest.mark.parametrize("block_size", [2, 10, 128])
@pytest.mark.parametrize("n", [1, 2, 5, 1000])
def test_postings_roundtrip(block_size, n):
    docs, tfs, dls = _mk(n)
    p, t, d, blocks = encode_postings(docs, tfs, dls, block_size=block_size)
    assert len(blocks) == (len(docs) + block_size - 1) // block_size
    rd, rt, rl = _decode(p, t, d, blocks)
    np.testing.assert_array_equal(rd, docs)
    np.testing.assert_array_equal(rt, tfs)
    np.testing.assert_array_equal(rl, dls)


def test_postings_range_pruning():
    # mirrors reference range-scoping cases where boundaries fall
    # between segments (single/single_test.go:187-209)
    docs = np.array([1, 5, 10, 20], dtype=np.uint64)
    tfs = np.ones(4, dtype=np.uint64)
    dls = np.full(4, 7, dtype=np.uint64)
    p, t, d, blocks = encode_postings(docs, tfs, dls, block_size=2)
    rd, _, _ = _decode(p, t, d, blocks, min_doc=9, max_doc=999)
    np.testing.assert_array_equal(rd, [10, 20])
    rd, _, _ = _decode(p, t, d, blocks, min_doc=0, max_doc=7)
    np.testing.assert_array_equal(rd, [1, 5])
    rd, _, _ = _decode(p, t, d, blocks, min_doc=2, max_doc=3)
    assert len(rd) == 0


def test_postings_block_stats():
    docs = np.array([3, 4, 9, 11], dtype=np.uint64)
    tfs = np.array([1, 9, 2, 4], dtype=np.uint64)
    dls = np.array([10, 2, 30, 4], dtype=np.uint64)
    _, _, _, blocks = encode_postings(docs, tfs, dls, block_size=2)
    assert blocks[0]["first_doc"] == 3 and blocks[0]["last_doc"] == 4
    assert blocks[0]["max_tf"] == 9 and blocks[0]["min_dl"] == 2
    assert blocks[1]["max_tf"] == 4 and blocks[1]["min_dl"] == 4


def test_postings_empty():
    z = np.zeros(0, dtype=np.uint64)
    p, t, d, blocks = encode_postings(z, z, z)
    assert blocks == [] and p == b""
    rd, rt, rl = _decode(p, t, d, blocks)
    assert len(rd) == 0


def test_truncated_stream_raises_in_every_batched_decoder(spark, tmp_path):
    """A row whose postings stream lost its last byte must fail every
    batched-decode kernel loudly — never read as an empty bucket
    (scoring), a dropped term (compaction) or no matches (set ops)."""
    from pyspark.sql import functions as F

    from inverted_index_spark.operators.build import SegmentWriter
    from inverted_index_spark.operators.merge import _merge_bucket_pdf
    from inverted_index_spark.operators.query import _bucket_setop_rows
    from inverted_index_spark.operators.wand import _materialized_contributions
    from inverted_index_spark.sources.store import SegmentStore

    empty = decode_rows_concat([], [], [], [])
    assert [len(a) for a in empty] == [0, 0, 0, 0]

    store = SegmentStore(str(tmp_path / "idx"))
    w = SegmentWriter(spark, store, block_size=2)
    w.put("a", [1, 2, 3])
    w.put("b", [2, 30, 50, 700])
    w.close()
    rows = store.read_postings(spark).withColumn(
        "postings",
        F.when(
            F.col("term") == "b",
            F.expr("substring(postings, 1, length(postings) - 1)"),
        ).otherwise(F.col("postings")),
    )
    pdf = rows.toPandas()
    with pytest.raises(CorruptSegmentError):
        _materialized_contributions(pdf, {"a": 1.0, "b": 1.0}, 5.0)
    with pytest.raises(CorruptSegmentError):
        _merge_bucket_pdf(pdf, 2)
    with pytest.raises(Exception, match="CorruptSegmentError"):
        _bucket_setop_rows(spark, store, rows, None, None, None).collect()


# ------------------------------------------------------ corruption fuzz ---

_FUZZ_DOCS = np.arange(10, 130, 10, dtype=np.int64)  # 3 blocks of 4
_FUZZ_RANGE = (60, 120)  # skips block 0, keeps the two after it


def _corrupt_frame(kind: str) -> pd.DataFrame:
    """A bucket of two posting rows whose term "a" row is damaged:
    ``cut`` drops its postings' last byte, ``pad`` appends one, ``swap``
    exchanges its tfs and dls streams (dl ≥ 128 makes each dl varint
    two bytes, so every block's slice is misaligned)."""
    n = len(_FUZZ_DOCS)
    p, t, d, blocks = encode_postings(
        _FUZZ_DOCS, np.arange(1, n + 1), np.arange(200, 200 + n), block_size=4
    )
    if kind == "cut":
        p = p[:-1]
    elif kind == "pad":
        p = p + b"\x01"
    else:
        t, d = d, t
    ok = encode_postings(_FUZZ_DOCS[::4], np.ones(3), np.full(3, 7), block_size=4)
    return pd.DataFrame({
        "bucket": [0, 0],
        "term": ["a", "b"],
        "df": [n, 3],
        "postings": [p, ok[0]],
        "tfs": [t, ok[1]],
        "dls": [d, ok[2]],
        "blocks": [blocks, ok[3]],
        "min_doc": [int(_FUZZ_DOCS[0])] * 2,
        "max_doc": [int(_FUZZ_DOCS[-1])] * 2,
        "_sgen": [0, 0],
    })


def _kernel_runs(pdf: pd.DataFrame, lo, hi):
    """Every postings-decoding kernel as a thunk over one bucket frame;
    ``lo``/``hi`` scope the kernels that take a range."""
    from inverted_index_spark.operators.merge import _merge_bucket_pdf
    from inverted_index_spark.operators.query import _decode_rows, _setop_bucket
    from inverted_index_spark.operators.search import (
        _purge_batch,
        _read_values_batch_rows,
    )
    from inverted_index_spark.operators.wand import (
        _materialized_contributions,
        _term_handles,
    )
    tomb = pd.DataFrame({"doc_id": [120], "del_gen": [1]})
    qmap = {"q": (["a", "b"], lo, hi)}
    return {
        "decode_rows": lambda: _decode_rows(pdf, tomb, lo, hi, True),
        "setop_union": lambda: _setop_bucket(pdf, lo, hi, None, tomb),
        "setop_and": lambda: _setop_bucket(pdf, lo, hi, 2, tomb),
        "read_values_batch": lambda: _read_values_batch_rows(
            pdf, qmap, {"a": ["q"], "b": ["q"]}, lo, hi
        ),
        "contributions": lambda: _materialized_contributions(
            pdf, {"a": 1.0, "b": 1.0}, 100.0
        ),
        "merge": lambda: _merge_bucket_pdf(pdf, 4, tomb),
        "wand_blocks": lambda: [h.decode() for h in _term_handles(pdf[:1])],
        "purge": lambda: _purge_batch(pdf, tomb),
    }


_RANGED = ["decode_rows", "setop_union", "setop_and", "read_values_batch"]


@pytest.mark.parametrize("kind", ["cut", "pad", "swap"])
@pytest.mark.parametrize(
    "kernel, scope",
    [(k, "full") for k in _RANGED + ["contributions", "merge", "wand_blocks", "purge"]]
    + [(k, "range") for k in _RANGED],
)
def test_corrupt_row_raises_in_every_decode_kernel(kind, kernel, scope):
    """One damaged row must fail every kernel that decodes postings,
    full and range-scoped — never decode short, padded or misaligned."""
    pdf = _corrupt_frame(kind)
    lo, hi = _FUZZ_RANGE if scope == "range" else (None, None)
    run = _kernel_runs(pdf, lo, hi)[kernel]
    with pytest.raises(CorruptSegmentError):
        run()
    # the clean rows alone decode fine: the failure is the damage
    assert _kernel_runs(pdf[1:], lo, hi)[kernel]() is not None


def _corrupt_positions_frame(kind: str) -> pd.DataFrame:
    """A bucket of two POSITIONS_SCHEMA rows whose term "a" row is
    damaged: a stream cut by its last byte (``*_cut``; the docs and
    positions streams end in a two-byte varint, so those cuts land
    mid-varint) or padded with one (``*_pad``), or its counts and
    positions streams exchanged (``swap``)."""
    from inverted_index_spark.operators.positions import encode_positions_arrays

    enc = encode_positions_arrays(
        np.array(["a"] * 4 + ["b"] * 2, dtype=object),
        np.array([3, 3, 9, 200, 3, 9], dtype=np.int64),
        np.array([0, 7, 2, 300, 1, 3], dtype=np.int64),
        bucket=0,
    )
    stream, _, how = kind.partition("_")
    col = {"docs": "docs", "counts": "counts", "pos": "positions"}.get(stream)
    a = enc.index[enc["term"] == "a"][0]
    if how == "cut":
        enc.at[a, col] = enc.at[a, col][:-1]
    elif how == "pad":
        enc.at[a, col] = enc.at[a, col] + b"\x01"
    else:
        enc.at[a, "counts"], enc.at[a, "positions"] = (
            enc.at[a, "positions"], enc.at[a, "counts"]
        )
    return enc.assign(_sgen=0)


@pytest.mark.parametrize(
    "kind", ["docs_cut", "docs_pad", "counts_cut", "pos_cut", "pos_pad", "swap"]
)
@pytest.mark.parametrize("kernel", ["decode_rows", "per_term", "phrase"])
def test_corrupt_positions_row_raises_in_every_kernel(kind, kernel):
    """One damaged positions row must fail every kernel that decodes
    positions with CorruptSegmentError — never a bare numpy error, a
    short decode or a misaligned (doc, pos) pairing."""
    from inverted_index_spark.operators.positions import (
        _per_term_occurrences,
        _phrase_bucket,
        decode_position_rows,
    )

    tomb = pd.DataFrame({"doc_id": [9], "del_gen": [1]})
    runs = {
        "decode_rows": lambda pdf: decode_position_rows(pdf, tomb),
        "per_term": lambda pdf: _per_term_occurrences(pdf, None, None, tomb),
        "phrase": lambda pdf: _phrase_bucket(
            pdf, tomb, {"a": [0], "b": [1]}, 2, 0, None, None
        ),
    }
    pdf = _corrupt_positions_frame(kind)
    with pytest.raises(CorruptSegmentError):
        runs[kernel](pdf)
    # the clean row alone decodes, and the tombstone masks doc 9
    clean = pdf[pdf["term"] == "b"]
    out = decode_position_rows(clean, tomb)
    assert sorted(zip(out["doc_id"], out["pos"])) == [(3, 1)]
    assert runs[kernel](clean) is not None
