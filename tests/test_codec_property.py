"""Hypothesis property tests for the posting codec — randomized
round-trip identity incl. extreme values (mirrors the randomized
inputs of /root/reference/single/segment_test.go at property scale)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from inverted_index_spark.functions.codec import (
    decode_rows_concat,
    decode_varint,
    encode_postings,
    encode_varint,
)


def _decode(p, t, l, blocks, min_doc=None, max_doc=None):
    """One row through the batched primitive → (doc_ids, tfs, dls)."""
    _, docs, tfs, dls = decode_rows_concat([p], [t], [l], [blocks], min_doc, max_doc)
    return docs, tfs, dls


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**64 - 1), min_size=0, max_size=400
    )
)
def test_varint_roundtrip_property(values):
    arr = np.array(values, dtype=np.uint64)
    buf, _ = encode_varint(arr)
    np.testing.assert_array_equal(decode_varint(buf), arr)


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.integers(min_value=0, max_value=2**53), min_size=1, max_size=300, unique=True
    ),
    block_size=st.integers(min_value=1, max_value=64),
    data=st.data(),
)
def test_postings_roundtrip_property(docs, block_size, data):
    d = np.array(sorted(docs), dtype=np.uint64)
    n = len(d)
    tfs = np.array(
        data.draw(st.lists(st.integers(1, 1000), min_size=n, max_size=n)),
        dtype=np.uint64,
    )
    dls = np.array(
        data.draw(st.lists(st.integers(1, 10000), min_size=n, max_size=n)),
        dtype=np.uint64,
    )
    p, t, l, blocks = encode_postings(d, tfs, dls, block_size=block_size)
    rd, rt, rl = _decode(p, t, l, blocks)
    np.testing.assert_array_equal(rd, d)
    np.testing.assert_array_equal(rt, tfs)
    np.testing.assert_array_equal(rl, dls)
    # range pruning never returns out-of-range docs and never loses in-range ones
    if n >= 2:
        lo, hi = int(d[n // 3]), int(d[2 * n // 3])
        pd_, _, _ = _decode(p, t, l, blocks, lo, hi)
        expect = d[(d >= lo) & (d <= hi)]
        np.testing.assert_array_equal(pd_, expect)
        # several rows in one call: the row itself, an empty row, its
        # first half re-encoded at another block size, and a copy
        # shifted past the range — per-row counts and the concatenated
        # output both match row-at-a-time filtering
        half = encode_postings(
            d[: n // 2], tfs[: n // 2], dls[: n // 2], block_size=block_size + 1
        )
        shift = 2 * int(d[-1]) + 1
        far = encode_postings(d + np.uint64(shift), tfs, dls, block_size=block_size)
        rows = [(p, t, l, blocks), (b"", b"", b"", []), half, far]
        row_lens, docs, rtf, rdl = decode_rows_concat(*zip(*rows), lo, hi)
        src = [(d, tfs, dls), (d[:0], tfs[:0], dls[:0]),
               (d[: n // 2], tfs[: n // 2], dls[: n // 2]),
               (d + np.uint64(shift), tfs, dls)]
        masks = [(x >= lo) & (x <= hi) for x, _, _ in src]
        assert list(row_lens) == [int(m.sum()) for m in masks]
        for out, j in ((docs, 0), (rtf, 1), (rdl, 2)):
            np.testing.assert_array_equal(
                out, np.concatenate([s[j][m] for s, m in zip(src, masks)])
            )


# ---------------------------------------------------- positions codec ---

_occurrence_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # term idx
        st.integers(min_value=0, max_value=2**62),      # doc id
        st.integers(min_value=0, max_value=1_000_000),  # token position
    ),
    min_size=1,
    max_size=300,
)


@settings(max_examples=60, deadline=None)
@given(_occurrence_lists)
def test_positions_roundtrip_property(occ):
    """encode_positions_arrays ∘ decode_position_rows == identity on any
    sorted-unique (term, doc, pos) occurrence set, including huge doc
    ids and repeated terms/docs."""
    from inverted_index_spark.operators.positions import (
        decode_position_rows,
        encode_positions_arrays,
    )

    rows = sorted({(f"t{t}", d, p) for t, d, p in occ})
    terms = np.array([r[0] for r in rows], dtype=object)
    docs = np.array([r[1] for r in rows], dtype=np.int64)
    poss = np.array([r[2] for r in rows], dtype=np.int64)
    enc = encode_positions_arrays(terms, docs, poss, bucket=0)
    out = list(decode_position_rows(iter([enc])))
    got = sorted(zip(out[0]["term"], out[0]["doc_id"], out[0]["pos"])) if out else []
    assert got == rows


@settings(max_examples=40, deadline=None)
@given(
    docs=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=300,
        unique=True,
    ),
    block_size=st.integers(min_value=1, max_value=64),
)
def test_postings_roundtrip_signed_full_domain(docs, block_size):
    """Round-5 full-uint64 parity: SIGNED ids over the whole int64
    domain (negatives = the wrapped uint64 upper half, so this covers
    2^64-1 == -1) round-trip bit-exactly in signed sort order, and
    signed range pruning is exact across the sign boundary."""
    d = np.array(sorted(docs), dtype=np.int64)
    n = len(d)
    ones = np.ones(n, dtype=np.uint64)
    p, t, l, blocks = encode_postings(d, ones, ones, block_size=block_size)
    rd, _, _ = _decode(p, t, l, blocks)
    np.testing.assert_array_equal(rd.view(np.int64), d)
    assert blocks[0]["first_doc"] == int(d[0])
    assert blocks[-1]["last_doc"] == int(d[-1])
    if n >= 2:
        lo, hi = int(d[n // 3]), int(d[2 * n // 3])
        pd_, _, _ = _decode(p, t, l, blocks, lo, hi)
        expect = d[(d >= lo) & (d <= hi)]
        np.testing.assert_array_equal(pd_.view(np.int64), expect)


def test_postings_uint64_max_boundary():
    """2^64-1 (wrapped: -1) and both sides of the 2^63 boundary."""
    d = np.array(
        [-(2**63), -(2**63) + 1, -2, -1, 0, 1, 2**63 - 1], dtype=np.int64
    )
    ones = np.ones(len(d), dtype=np.uint64)
    p, t, l, blocks = encode_postings(d, ones, ones, block_size=2)
    rd, _, _ = _decode(p, t, l, blocks)
    np.testing.assert_array_equal(rd.view(np.int64), d)
    # signed range read spanning the boundary
    pd_, _, _ = _decode(p, t, l, blocks, -2, 1)
    np.testing.assert_array_equal(pd_.view(np.int64), [-2, -1, 0, 1])
