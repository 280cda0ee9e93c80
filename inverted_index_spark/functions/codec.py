"""Vectorized delta + varint posting-list codec (pure numpy).

Re-creates the *role* of the reference's pluggable segment codecs
(``CompressUint32/64`` = delta + bit-packing via ronanh/intcomp,
/root/reference/single/segment.go:38-84) as a numpy LEB128 varint
codec suitable for Arrow/pandas UDFs — no per-row Python, ever.

Layout produced by :func:`encode_postings`:

- ``postings``: concatenated per-block varint streams; within a block
  the first doc_id is absolute, the rest are deltas (so each block is
  independently decodable — the reference's segment restart property,
  single/single.go:275-299).
- ``tfs`` / ``dls``: per-block varint streams of term frequencies and
  document lengths aligned with the doc ids (north-rule BM25 needs
  them; the reference stores bare ids only).
- block metadata: one struct per block ``(first_doc, last_doc, n,
  max_tf, min_dl, p_off, t_off, d_off)`` — the analog of the
  reference's sparse segments index ``(offset, minValue)``
  (single/segment.go:100-146) extended with the block-max quantities
  WAND needs. ``(max_tf, min_dl)`` give a *corpus-stat-independent*
  upper bound on a block's BM25 contribution: tf/(tf+k) is increasing
  in tf and decreasing in dl, so ub(block) = bm25_tf_norm(max_tf,
  min_dl) is valid for any (avgdl, idf) chosen at query time — which
  keeps WAND correct across merges that change corpus stats.

Every read decodes through :func:`decode_rows_concat`: many rows at
once, optionally scoped to a ``[min_doc, max_doc]`` range whose missed
blocks are skipped before any varint work, and strict — a stream that
disagrees with its block metadata raises :class:`CorruptSegmentError`
instead of decoding short.
"""

from __future__ import annotations

import operator

import numpy as np

DEFAULT_BLOCK = 128


class CorruptSegmentError(ValueError):
    """A stored posting stream disagrees with its block metadata."""


# ---------------------------------------------------------------- varint ---


def encode_varint(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array. Returns (buffer, bytelen_per_value).

    Fully vectorized: O(total_bytes) numpy work, no Python loop over
    values (the loop below runs ≤10 times — once per varint byte slot).
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    x = v >> np.uint64(7)
    while x.any():
        nbytes += (x > 0).astype(np.int64)
        x = x >> np.uint64(7)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    x = v.copy()
    idx = starts.copy()
    mask = np.ones(n, dtype=bool)
    while mask.any():
        byte = (x & np.uint64(0x7F)).astype(np.uint8)
        more = x >= np.uint64(0x80)
        out[idx[mask]] = byte[mask] | (more[mask].astype(np.uint8) << 7)
        x = x >> np.uint64(7)
        idx += 1
        mask = more
    return out.tobytes(), nbytes


def decode_varint(buf: bytes | memoryview | np.ndarray) -> np.ndarray:
    """Decode a LEB128 stream into a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    return _varints(b, np.flatnonzero(b < 0x80))


def _varints(b: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """The varints of ``b`` whose final bytes sit at ``ends``: one
    gather per byte slot (≤ 10, usually 1-2), never a pass per byte."""
    if len(ends) == len(b):  # every value fits one byte
        return b.astype(np.uint64)
    starts = np.empty_like(ends)
    starts[:1] = 0
    starts[1:] = ends[:-1] + 1
    out = (b[starts] & 0x7F).astype(np.uint64)
    idx = np.flatnonzero(ends > starts)
    j = 1
    while len(idx):
        at = starts[idx] + j
        out[idx] |= (b[at] & 0x7F).astype(np.uint64) << np.uint64(7 * j)
        idx = idx[ends[idx] > at]
        j += 1
    return out


# ------------------------------------------------------------- block form ---

BLOCK_FIELDS = [
    "first_doc",
    "last_doc",
    "n",
    "max_tf",
    "min_dl",
    "p_off",
    "t_off",
    "d_off",
]
_BLOCK_META = operator.itemgetter(
    "first_doc", "last_doc", "n", "p_off", "t_off", "d_off"
)
_I64 = np.iinfo(np.int64)


def encode_postings(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int = DEFAULT_BLOCK,
) -> tuple[bytes, bytes, bytes, list[dict]]:
    """Encode one term's postings (sorted unique doc_ids + aligned tf/dl).

    Returns (postings_buf, tfs_buf, dls_buf, blocks) where blocks is a
    list of dicts with BLOCK_FIELDS. Offsets are byte offsets of each
    block inside its stream, so pruned reads decode only the blocks
    whose [first_doc, last_doc] window intersects the query range —
    the reference's preselectSegments (single/single.go:615-657).
    """
    arr = np.ascontiguousarray(doc_ids)
    # ids may be SIGNED (sorted by Spark's long order; negatives are
    # the wrapped upper half of uint64 — round-5 value-index support).
    # Encode their two's-complement BIT PATTERN: uint64 deltas wrap
    # modularly, so decode's uint64 cumsum reproduces the exact bits.
    d = arr if arr.dtype == np.uint64 else arr.astype(np.int64).view(np.uint64)
    t = np.ascontiguousarray(tfs, dtype=np.uint64)
    l = np.ascontiguousarray(dls, dtype=np.uint64)
    n = len(d)
    if n == 0:
        return b"", b"", b"", []
    # per-block delta restart: delta[i] = d[i]-d[i-1], absolute at block starts
    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = d[0]
    deltas[1:] = d[1:] - d[:-1]
    block_starts = np.arange(0, n, block_size, dtype=np.int64)
    deltas[block_starts] = d[block_starts]
    p_buf, p_len = encode_varint(deltas)
    t_buf, t_len = encode_varint(t)
    l_buf, l_len = encode_varint(l)
    # vectorized per-block stats
    ends = np.minimum(block_starts + block_size, n)
    max_tf = np.maximum.reduceat(t, block_starts)
    min_dl = np.minimum.reduceat(l, block_starts)
    p_csum = np.concatenate(([0], np.cumsum(p_len)))
    t_csum = np.concatenate(([0], np.cumsum(t_len)))
    l_csum = np.concatenate(([0], np.cumsum(l_len)))
    ds = d.view(np.int64)  # block stats live in the SIGNED schema domain
    blocks = [
        {
            "first_doc": int(ds[s]),
            "last_doc": int(ds[e - 1]),
            "n": int(e - s),
            "max_tf": int(max_tf[i]),
            "min_dl": int(min_dl[i]),
            "p_off": int(p_csum[s]),
            "t_off": int(t_csum[s]),
            "d_off": int(l_csum[s]),
        }
        for i, (s, e) in enumerate(zip(block_starts, ends))
    ]
    return p_buf, t_buf, l_buf, blocks


def decode_rows_concat(
    postings_seq, tfs_seq, dls_seq, blocks_seq, min_doc=None, max_doc=None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY rows' posting streams in one vectorized pass — the
    engine's only postings decoder.

    Returns (row_lens, doc_ids, tfs, dls): per-row posting counts plus
    the concatenated decoded arrays (doc_ids int64, tf/dl uint64), rows
    in input order; empty arrays when there is nothing to decode.
    ``blocks_seq`` holds each row's block metadata (dicts or Rows with
    BLOCK_FIELDS, in stream order).

    With ``min_doc`` / ``max_doc`` the read is range-scoped, the
    reference's preselectSegments (single/single.go:615-657): blocks
    whose ``[first_doc, last_doc]`` misses the range are skipped before
    any varint work, and postings outside it are dropped. Comparisons
    are SIGNED int64 — negative ids are the wrapped upper half of
    uint64 and compare like the Spark long schema they live in.

    The selected blocks' byte slices are decoded in one pass per
    stream; doc ids come from one segmented cumsum with restarts at
    every block start. Raises :class:`CorruptSegmentError` unless every
    selected block's slice holds exactly its ``n`` whole varints in
    every stream (checked per block, so a short block and a padded
    block cannot cancel out) and every row's bytes are covered by its
    blocks — a caller must never read a bucket as empty, or short,
    because its bytes are bad."""
    row_nblocks: list[int] = []
    meta: list[tuple] = []
    for blocks in blocks_seq:
        if blocks is None:
            row_nblocks.append(0)
        else:
            row_nblocks.append(len(blocks))
            meta.extend(map(_BLOCK_META, blocks))
    rnb = np.asarray(row_nblocks, dtype=np.int64)
    m = np.array(meta, dtype=np.int64).reshape(len(meta), 6)
    seqs = [list(postings_seq), list(tfs_seq), list(dls_seq)]
    lens = np.array([list(map(len, q)) for q in seqs], dtype=np.int64)
    lens = lens.reshape(3, len(rnb)).T  # (row, stream)
    row_of = np.repeat(np.arange(len(rnb)), rnb)
    # (block, stream) byte slices: a block ends where its row's next
    # block starts, and a row's blocks tile its stream
    off = m[:, 3:]
    end = np.empty_like(off)
    end[:-1] = off[1:]
    row_end = np.cumsum(rnb)[rnb > 0] - 1
    end[row_end] = lens[rnb > 0]
    ln = end - off
    bn = m[:, 2]
    if (
        (ln < 0).any()
        or (bn < 0).any()
        or (off[row_end - rnb[rnb > 0] + 1] != 0).any()
        or (lens[rnb == 0] != 0).any()
        or (ln[bn == 0] != 0).any()
    ):
        raise CorruptSegmentError("block offsets do not tile their rows' streams")
    lo, hi = _I64.min, _I64.max
    scoped = min_doc is not None or max_doc is not None
    sel = None
    if scoped:
        lo = lo if min_doc is None else int(min_doc)
        hi = hi if max_doc is None else int(max_doc)
        sel = (m[:, 1] >= lo) & (m[:, 0] <= hi)
        if sel.all():
            sel = None
        else:
            start = (np.cumsum(lens, axis=0) - lens)[row_of[sel]] + off[sel]
            ln, bn, row_of = ln[sel], bn[sel], row_of[sel]
    cut = np.cumsum(ln, axis=0)
    has = bn > 0
    last = (np.cumsum(bn) - 1)[has]
    total = int(bn.sum())
    deltas, tf, dl = (
        _decode_stream(
            name, seqs[j], None if sel is None else start[:, j],
            ln[:, j], cut[:, j], has, last, total,
        )
        for j, name in enumerate(("postings", "tfs", "dls"))
    )
    if not total:
        return np.zeros(len(rnb), dtype=np.int64), deltas.view(np.int64), tf, dl
    # segmented cumsum: absolute value at every block start
    starts = np.concatenate(([0], np.cumsum(bn[:-1])))
    csum = np.cumsum(deltas, dtype=np.uint64)
    base = csum[starts] - deltas[starts]
    docs = (csum - np.repeat(base, bn)).view(np.int64)
    post_row = np.repeat(row_of, bn)
    if scoped:
        keep = (docs >= lo) & (docs <= hi)
        if not keep.all():
            docs, tf, dl, post_row = docs[keep], tf[keep], dl[keep], post_row[keep]
    return np.bincount(post_row, minlength=len(rnb)), docs, tf, dl


def _decode_stream(name, seq, start, ln, cut, has, last, total) -> np.ndarray:
    """One stream kind's varints from its selected block slices (all of
    its rows' bytes when ``start`` is None); block i must hold exactly
    n[i] whole ones — its last varint ends on the slice's last byte —
    and none may be left over."""
    data = np.frombuffer(b"".join(seq), dtype=np.uint8)
    if start is not None:
        data = data[np.repeat(start - cut + ln, ln) + np.arange(int(ln.sum()))]
    ends = np.flatnonzero(data < 0x80)
    if len(ends) != total or (ends[last] != cut[has] - 1).any():
        raise CorruptSegmentError(
            f"{name} streams do not hold the postings their blocks declare"
        )
    return _varints(data, ends)
