"""Block-max WAND top-k (north-star optimization, SURVEY.md §4 item 2).

Per doc-bucket, a *span-based* block-max scorer: doc space is cut at
the union of all query terms' block boundaries, so spans are disjoint
doc ranges and every doc's score is complete within its span. That
makes processing order free — spans are scored in DESCENDING
upper-bound order, so the top-k threshold θ tightens as fast as
possible and the first span with ub < θ ends the query (early break;
everything after it is skipped without decoding). Upper bounds come
from per-block (max_tf, min_dl):
ub = idf · max_tf/(max_tf + k1·(1-b+b·min_dl/avgdl)) is valid for ANY
avgdl/idf chosen at query time (tf/(tf+c) monotone in tf and dl), so
merges that shift corpus stats can never break pruning correctness.

Distribution shape: buckets are disjoint doc ranges and BM25 scores
are bucket-independent → per-bucket local top-k via applyInPandas,
then a global orderBy().limit(k) (TakeOrdered) merge. The loop below
is per-SPAN Python (≤ #blocks iterations) with vectorized numpy
scoring inside — never per-row or per-doc Python.

This is a flag: results must equal operators.bm25.bm25_topk exactly
(equality-tested in tests/test_wand.py); correctness never depends on
pruning.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inverted_index_spark.functions.codec import decode_rows_concat
from inverted_index_spark.operators.bm25 import B, K1, corpus_stats, idf, term_dfs
from inverted_index_spark.operators.query import matching_rows
from inverted_index_spark.sources.store import SegmentStore


def _tf_norm(tf, dl, avgdl):
    return tf / (tf + K1 * (1.0 - B + B * dl / avgdl))


class _RowDecode:
    """One encoded row, decoded in full at its first block's decode and
    shared by all its blocks' handles — one primitive call per row, not
    one per block (each call re-reads the row's block metadata)."""

    __slots__ = ("row", "arrays")

    def __init__(self, row):
        self.row = row  # (postings, tfs, dls, blocks)
        self.arrays = None  # (docs, tfs, dls), int64

    def get(self):
        if self.arrays is None:
            p, t, l, blocks = self.row
            _, docs, tfs, dls = decode_rows_concat([p], [t], [l], [blocks])
            self.arrays = (docs, tfs.astype(np.int64), dls.astype(np.int64))
        return self.arrays


class _BlockHandle:
    """Lazy posting block: bounds + WAND stats now, decode on demand."""

    __slots__ = ("first_doc", "last_doc", "max_tf", "min_dl", "n", "_row", "_cache")

    def __init__(self, first_doc, last_doc, max_tf, min_dl, n, row=None, cache=None):
        self.first_doc = first_doc
        self.last_doc = last_doc
        self.max_tf = max_tf
        self.min_dl = min_dl
        self.n = n  # posting count (adaptive exhaustive-fallback sizing)
        self._row = row  # (shared _RowDecode, start, end) of its postings
        self._cache = cache  # (docs, tfs, dls), int64

    def decode(self):
        if self._cache is None:
            shared, a, b = self._row
            self._cache = tuple(x[a:b] for x in shared.get())
        return self._cache


def _term_handles(grp: pd.DataFrame) -> list[_BlockHandle]:
    """One term's rows (usually 1; >1 pre-compaction overlap) → ordered
    block handles. Overlap is rare and transient: decode-merge it into
    materialized chunks so no (term, doc) pair ever double-counts."""
    if len(grp) == 1:
        r = grp.iloc[0]
        shared = _RowDecode((r["postings"], r["tfs"], r["dls"], r["blocks"]))
        ends = np.cumsum([int(b["n"]) for b in r["blocks"]])
        return [
            _BlockHandle(
                b["first_doc"], b["last_doc"], b["max_tf"], b["min_dl"], b["n"],
                (shared, int(e - b["n"]), int(e)),
            )
            for b, e in zip(r["blocks"], ends)
        ]
    _, d, tf, dl = decode_rows_concat(
        grp["postings"], grp["tfs"], grp["dls"], grp["blocks"]
    )
    tf = tf.astype(np.int64)
    dl = dl.astype(np.int64)
    order = np.argsort(d, kind="mergesort")
    d, tf, dl = d[order], tf[order], dl[order]
    keep = np.ones(len(d), dtype=bool)
    keep[1:] = d[1:] != d[:-1]
    d, tf, dl = d[keep], tf[keep], dl[keep]
    out = []
    for s in range(0, len(d), 128):
        e = min(s + 128, len(d))
        out.append(
            _BlockHandle(
                int(d[s]), int(d[e - 1]), int(tf[s:e].max()), int(dl[s:e].min()),
                int(e - s), cache=(d[s:e], tf[s:e], dl[s:e]),
            )
        )
    return out


def _materialized_contributions(
    pdf, idf_map: dict, avgdl: float
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """One doc-bucket's matched rows → term → (docs, per-posting BM25
    contribution), fully precomputed (round-6, guide §1.2/§4.2).

    The batched exhaustive scorer re-derived decode + tf-norm + idf
    work PER QUERY through the handle machinery (pandas groupby +
    .iloc + per-block varint decode were half the kernel's profile);
    every one of those quantities is query-INDEPENDENT, so they are
    computed once per bucket here — batched varint decode
    (decode_rows_concat), one vectorized tf-norm over all postings,
    then per-term slicing. Float semantics are pinned to the handle
    path: contributions are idf · tf/(tf + k1·(1−b+b·dl/avgdl)) in
    float64, docs ascending within a term, cross-segment duplicate
    rows merged doc-sorted keep-first exactly like _term_handles."""
    row_lens, docs, tf, dl = decode_rows_concat(
        pdf["postings"], pdf["tfs"], pdf["dls"], pdf["blocks"]
    )
    tfn = _tf_norm(tf.astype(np.float64), dl.astype(np.float64), avgdl)
    starts = np.concatenate(([0], np.cumsum(row_lens)))
    terms = pdf["term"].to_numpy()
    parts: dict[str, list[tuple[np.ndarray, np.ndarray]]] = {}
    for i, t in enumerate(terms):
        s, e = int(starts[i]), int(starts[i + 1])
        if e == s or t not in idf_map:
            continue
        parts.setdefault(t, []).append((docs[s:e], idf_map[t] * tfn[s:e]))
    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for t, ps in parts.items():
        if len(ps) == 1:
            out[t] = ps[0]
            continue
        # pre-compaction overlap: doc-sorted merge, keep-first dedup —
        # the same rule _term_handles applies before scoring
        d = np.concatenate([p[0] for p in ps])
        c = np.concatenate([p[1] for p in ps])
        order = np.argsort(d, kind="mergesort")
        d, c = d[order], c[order]
        keep = np.ones(len(d), dtype=bool)
        keep[1:] = d[1:] != d[:-1]
        out[t] = (d[keep], c[keep])
    return out


def _topk_from_contributions(
    terms: list[str],
    contribs: dict[str, tuple[np.ndarray, np.ndarray]],
    k: int,
) -> list[tuple[int, float]]:
    """Exhaustive top-k over precomputed per-term contributions, the
    ranking every exhaustive scorer shares: terms ascending, docs
    ascending within term, bincount scatter-add (np.add.at is an order
    of magnitude slower on repeated indices — measured on this kernel),
    stable descending argsort → ties break doc asc."""
    doc_parts = []
    contrib_parts = []
    for t in terms:  # callers pass sorted term lists
        hit = contribs.get(t)
        if hit is not None and len(hit[0]):
            doc_parts.append(hit[0])
            contrib_parts.append(hit[1])
    if not doc_parts:
        return []
    d = np.concatenate(doc_parts)
    c = np.concatenate(contrib_parts)
    uniq, inv = np.unique(d, return_inverse=True)
    scores = np.bincount(inv, weights=c, minlength=len(uniq))
    order = np.argsort(-scores, kind="stable")[:k]  # ties → doc_id asc
    return [(int(uniq[i]), float(scores[i])) for i in order]


def _exhaustive_from_handles(
    terms: dict[str, list[_BlockHandle]], idf_map: dict, avgdl: float, k: int
) -> list[tuple[int, float]]:
    """Decode-everything scorer for tiny posting sets where span
    bookkeeping costs more than it prunes (round-2 adaptivity). Blocks
    within a term are doc-disjoint, so one concat per term is exact."""
    contribs = {}
    for t, hs in terms.items():
        if hs:
            docs, tfs, dls = map(np.concatenate, zip(*(h.decode() for h in hs)))
            tfn = _tf_norm(tfs.astype(np.float64), dls.astype(np.float64), avgdl)
            contribs[t] = (docs, idf_map[t] * tfn)
    return _topk_from_contributions(sorted(terms), contribs, k)


def _wand_from_handles(
    terms: dict[str, list[_BlockHandle]], idf_map: dict, avgdl: float, k: int
) -> list[tuple[int, float]]:
    """Core span-based block-max scorer over prebuilt block handles.
    Returns the local top-k as (doc_id, score), best first. Handles
    cache decoded blocks, so running many queries over the same
    bucket's handles decodes each block at most once.

    Spans are doc-disjoint, so every doc's score is complete within its
    span — which makes processing order free. We exploit that by
    scoring spans in DESCENDING upper-bound order: θ tightens as fast
    as possible and, because later spans can only have lower ub, the
    first ub < θ ends the whole query (early break, not per-span skip).
    Per-span slicing is binary search on the sorted block docs (no
    full-block masks). Tiny posting sets skip the span machinery
    entirely (exhaustive fallback — same results, less bookkeeping).
    """
    total_n = sum(h.n for hs in terms.values() for h in hs)
    if total_n <= max(4 * k, 256):
        return _exhaustive_from_handles(terms, idf_map, avgdl, k)
    # pass 1 (no decode): doc-ordered pointer walk → per-span ub + blocks
    edges = sorted(
        {h.first_doc for hs in terms.values() for h in hs}
        | {h.last_doc + 1 for hs in terms.values() for h in hs}
    )
    ptr = {t: 0 for t in terms}
    spans: list[tuple[float, int, int, list]] = []
    for si in range(len(edges) - 1):
        lo, hi = edges[si], edges[si + 1] - 1
        ub = 0.0
        active: list[tuple[str, _BlockHandle]] = []
        for t in sorted(terms):
            hs = terms[t]
            i = ptr[t]
            while i < len(hs) and hs[i].last_doc < lo:
                i += 1
            ptr[t] = i
            if i < len(hs) and hs[i].first_doc <= hi:
                h = hs[i]
                ub += idf_map[t] * _tf_norm(h.max_tf, h.min_dl, avgdl)
                active.append((t, h))
        if active:
            spans.append((ub, lo, hi, active))
    # pass 2: descending-ub processing with early break at ub < θ
    spans.sort(key=lambda s: -s[0])
    topk: list[tuple[float, int]] = []  # min-heap of (score, -doc_id)

    def theta() -> float:
        return topk[0][0] if len(topk) >= k else -np.inf

    for ub, lo, hi, active in spans:
        if ub < theta():
            break  # sorted desc: every remaining span is below θ too
        # vectorized span scoring, terms ascending (pinned float order)
        doc_parts, contrib_parts = [], []
        for t, h in active:
            docs, tfs, dls = h.decode()
            a = int(np.searchsorted(docs, lo, side="left"))
            b = int(np.searchsorted(docs, hi, side="right"))
            if a == b:
                continue
            c = idf_map[t] * _tf_norm(
                tfs[a:b].astype(np.float64), dls[a:b].astype(np.float64), avgdl
            )
            doc_parts.append(docs[a:b])
            contrib_parts.append(c)
        if not doc_parts:
            continue
        d = np.concatenate(doc_parts)
        c = np.concatenate(contrib_parts)
        uniq, inv = np.unique(d, return_inverse=True)
        # ascending-term concat order + stable bincount keeps the pinned sum order
        scores = np.zeros(len(uniq))
        np.add.at(scores, inv, c)
        # docs in this span are COMPLETE → fold into top-k, tighten θ
        if len(topk) >= k:
            cand = np.flatnonzero(scores >= topk[0][0])
        else:
            cand = np.arange(len(uniq))
        for i in cand:
            item = (float(scores[i]), -int(uniq[i]))
            if len(topk) < k:
                heapq.heappush(topk, item)
            elif item > topk[0]:
                heapq.heapreplace(topk, item)
    items = sorted(topk, key=lambda x: (-x[0], -x[1]))
    return [(-nd, s) for s, nd in items]


def _wand_bucket(pdf: pd.DataFrame, idf_map: dict, avgdl: float, k: int) -> pd.DataFrame:
    terms: dict[str, list[_BlockHandle]] = {
        t: _term_handles(grp) for t, grp in pdf.groupby("term", sort=True)
    }
    items = _wand_from_handles(terms, idf_map, avgdl, k)
    if not items:
        return pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
        )
    return pd.DataFrame(
        {"doc_id": [d for d, _ in items], "score": [s for _, s in items]}
    )


def bm25_topk_wand(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """WAND-pruned top-k; results identical to bm25.bm25_topk."""
    uniq = sorted(set(terms))
    n_docs, avgdl = corpus_stats(spark, store)
    dfs = term_dfs(spark, store, uniq)
    idf_map = {t: idf(n_docs, dfs[t]) for t in uniq if t in dfs}
    if not idf_map or n_docs == 0:
        return spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    # the WAND kernel truncates per bucket, so a post-filter would
    # under-fill k — purge tombstones from the matched rows first (the
    # rewrite Searcher.open applies to its cache; a no-op without
    # live deletes)
    from inverted_index_spark.operators.search import _purged_postings

    rows = _purged_postings(spark, store, matching_rows(spark, store, list(idf_map)))

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _wand_bucket(pdf, idf_map, avgdl, k)

    local = rows.groupBy("bucket").applyInPandas(run, schema="doc_id long, score double")
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
