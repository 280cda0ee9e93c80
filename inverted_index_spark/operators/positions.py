"""Positional index + phrase queries (capability extension).

The reference stores bare posting values only — no positions, no
phrase queries (its query surface is the three reads,
/root/reference/single/single.go:155-228). Phrase search is the
classic fulltext capability built ON TOP of that layout (Lucene's
``.pos`` files next to ``.doc`` postings), so this module adds it the
same way: an OPTIONAL per-segment ``positions`` dataset next to
``postings``, sharing the doc-bucket sharding, the varint codec, and
the manifest lifecycle (built with ``build_index(...,
positions=True)``, compacted by ``merge_segments``, read across live
segments like M3/M4).

Layout — one row per (bucket, term), three varint streams:

    docs      doc ids, delta-encoded (absolute first) — sorted unique
    counts    occurrences per doc, aligned with ``docs``
    positions token offsets, delta-encoded within each doc
              (absolute at each doc's first occurrence)

Phrase match is bucket-local: buckets partition the doc space, so
the matched terms' ENCODED rows are grouped by doc-bucket (one small
exchange of varint streams, sized by the matched terms only) and one
numpy kernel per bucket decodes them, masks the store's live
tombstones (store.apply_buckets), fans each occurrence out to its
phrase offsets as ``adj = pos - offset`` and counts the starts where
all k offsets land (:func:`sloppy_start_counts`; slop 0 is exact
adjacency). Only ``(doc_id, n_matches)`` leaves the Python worker —
the same cost shape as Lucene's positional intersection,
embarrassingly parallel at 100 TB.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inverted_index_spark.functions.codec import (
    CorruptSegmentError,
    decode_varint,
    encode_varint,
)
from inverted_index_spark.functions.tokenizer import tokens_expr
from inverted_index_spark.sources.store import (
    NO_TOMBS,
    SegmentStore,
    apply_buckets,
    doc_order,
    tombstoned,
)

POSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("docs", T.BinaryType()),
        T.StructField("counts", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
    ]
)


# ----------------------------------------------------------------- encode ---


def encode_positions_arrays(
    terms: np.ndarray, docs: np.ndarray, poss: np.ndarray, bucket: int
) -> pd.DataFrame:
    """Sorted (term, doc, pos) occurrence arrays → POSITIONS_SCHEMA rows.

    Same vectorized shape as build.encode_bucket_arrays: one varint
    pass per stream over the whole bucket, Python loops only over
    terms (byte-slicing)."""
    n = len(terms)
    if n == 0:
        return pd.DataFrame({k: [] for k in POSITIONS_SCHEMA.fieldNames()})
    # (term, doc) group boundaries over occurrence rows
    new_term = np.empty(n, dtype=bool)
    new_term[0] = True
    new_term[1:] = terms[1:] != terms[:-1]
    new_doc = np.empty(n, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = new_term[1:] | (docs[1:] != docs[:-1])
    td_starts = np.flatnonzero(new_doc)          # occurrence idx of each (term,doc)
    td_ends = np.concatenate((td_starts[1:], [n]))
    counts = td_ends - td_starts                  # occurrences per (term,doc)
    # positions stream: delta within each (term,doc), absolute at its start
    pdeltas = np.empty(n, dtype=np.uint64)
    pu = poss.astype(np.uint64)
    pdeltas[0] = pu[0]
    pdeltas[1:] = pu[1:] - pu[:-1]
    pdeltas[td_starts] = pu[td_starts]
    # docs stream (one entry per (term,doc)): delta within term, absolute first
    d_seq = docs[td_starts].astype(np.uint64)
    t_first = new_term[td_starts]                 # group is first of its term
    ddeltas = np.empty(len(d_seq), dtype=np.uint64)
    ddeltas[0] = d_seq[0]
    ddeltas[1:] = d_seq[1:] - d_seq[:-1]
    ddeltas[t_first] = d_seq[t_first]
    d_buf, d_len = encode_varint(ddeltas)
    c_buf, c_len = encode_varint(counts.astype(np.uint64))
    p_buf, p_len = encode_varint(pdeltas)
    d_csum = np.concatenate(([0], np.cumsum(d_len)))
    c_csum = np.concatenate(([0], np.cumsum(c_len)))
    p_csum = np.concatenate(([0], np.cumsum(p_len)))
    # per-term slicing: term starts within the (term,doc) group sequence
    g_term_starts = np.flatnonzero(t_first)
    g_term_ends = np.concatenate((g_term_starts[1:], [len(d_seq)]))
    occ_term_starts = td_starts[g_term_starts]    # occurrence idx of term start
    occ_term_ends = np.concatenate((occ_term_starts[1:], [n]))
    dm, cm, pm = memoryview(d_buf), memoryview(c_buf), memoryview(p_buf)
    out = {k: [] for k in POSITIONS_SCHEMA.fieldNames()}
    for gi in range(len(g_term_starts)):
        gs, ge = g_term_starts[gi], g_term_ends[gi]
        os_, oe = occ_term_starts[gi], occ_term_ends[gi]
        out["bucket"].append(bucket)
        out["term"].append(terms[os_])
        out["df"].append(int(ge - gs))
        out["docs"].append(bytes(dm[d_csum[gs] : d_csum[ge]]))
        out["counts"].append(bytes(cm[c_csum[gs] : c_csum[ge]]))
        out["positions"].append(bytes(pm[p_csum[os_] : p_csum[oe]]))
        out["min_doc"].append(int(d_seq[gs]))
        out["max_doc"].append(int(d_seq[ge - 1]))
    return pd.DataFrame(out)


def _encode_positions_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["term", "doc_id", "pos"], kind="mergesort")
    terms = pdf["term"].to_numpy()
    docs = pdf["doc_id"].to_numpy(dtype=np.int64)
    poss = pdf["pos"].to_numpy(dtype=np.int64)
    # dedup repeated (term, doc, pos) rows (merge unions can repeat them)
    if len(pdf) > 1:
        keep = np.ones(len(pdf), dtype=bool)
        keep[1:] = ~(
            (terms[1:] == terms[:-1]) & (docs[1:] == docs[:-1]) & (poss[1:] == poss[:-1])
        )
        terms, docs, poss = terms[keep], docs[keep], poss[keep]
    return encode_positions_arrays(terms, docs, poss, int(pdf["bucket"].iloc[0]))


def position_tokens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, pos) occurrence rows — pure JVM (posexplode over
    the pinned tokenizer's token array; pos is the 0-based token
    offset, the unit phrase adjacency is defined in)."""
    # not a size filter on toks, which Spark would push below the
    # projection, running the regex twice per doc (tokenizer.tokenize)
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens_expr(F.col(text_col)).alias("toks"),
    )
    return toks.select(
        "doc_id", F.posexplode_outer("toks").alias("pos", "term")
    ).where("term IS NOT NULL")


def encode_positions_segment(
    pos_tokens: DataFrame, bucket_size: int
) -> DataFrame:
    """(doc_id, term, pos) → POSITIONS_SCHEMA rows, sharded by the same
    doc-buckets as the postings (one groupBy(bucket) shuffle)."""
    bucketed = pos_tokens.withColumn(
        "bucket", F.expr(f"cast(doc_id div {int(bucket_size)} as long)")
    )
    return bucketed.groupBy("bucket").applyInPandas(
        lambda pdf: _encode_positions_pdf(pdf), schema=POSITIONS_SCHEMA
    )


# ----------------------------------------------------------------- decode ---


def _strict_varints(buf, name: str) -> np.ndarray:
    """One positions stream's varints; a cut final varint raises."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) and b[-1] >= 0x80:
        raise CorruptSegmentError(f"positions row: {name} stream ends mid-varint")
    return decode_varint(b)


def _decode_pos_rows(
    pdf: pd.DataFrame, tomb: pd.DataFrame, min_doc: int | None, max_doc: int | None
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """POSITIONS_SCHEMA rows → (row index, doc_id, pos) per occurrence,
    doc-range-filtered, minus the rows' tombstoned docs
    (store.tombstoned). Strict: a row whose docs and counts streams
    differ in length, whose counts do not sum to its positions count,
    or whose stream ends mid-varint raises CorruptSegmentError."""
    lo = -(1 << 62) if min_doc is None else int(min_doc)
    hi = (1 << 62) if max_doc is None else int(max_doc)
    rows, docs, poss = [], [], []
    for i, (d_buf, c_buf, p_buf) in enumerate(
        zip(pdf["docs"], pdf["counts"], pdf["positions"])
    ):
        d = np.cumsum(_strict_varints(d_buf, "docs"), dtype=np.uint64).astype(np.int64)
        c = _strict_varints(c_buf, "counts").astype(np.int64)
        pdeltas = _strict_varints(p_buf, "positions")
        if len(d) != len(c) or int(c.sum()) != len(pdeltas):
            raise CorruptSegmentError(
                f"positions row: {len(d)} docs, {len(c)} counts summing to "
                f"{int(c.sum())}, {len(pdeltas)} positions"
            )
        if not len(d):
            continue
        # positions: global cumsum minus each doc-group's carried-in base
        starts = np.concatenate(([0], np.cumsum(c[:-1])))
        csum = np.cumsum(pdeltas, dtype=np.uint64)
        base = csum[starts] - pdeltas[starts]
        pos = (csum - np.repeat(base, c)).astype(np.int64)
        doc_rep = np.repeat(d, c)
        m = (doc_rep >= lo) & (doc_rep <= hi)
        rows.append(np.full(int(m.sum()), i, dtype=np.int64))
        docs.append(doc_rep[m])
        poss.append(pos[m])
    if not rows:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    row, doc, pos = np.concatenate(rows), np.concatenate(docs), np.concatenate(poss)
    dead = tombstoned(pdf, np.bincount(row, minlength=len(pdf)), doc, tomb)
    if dead is not None:
        row, doc, pos = row[~dead], doc[~dead], pos[~dead]
    return row, doc, pos


def decode_position_rows(
    pdf: pd.DataFrame,
    tomb: pd.DataFrame = NO_TOMBS,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> pd.DataFrame:
    """POSITIONS_SCHEMA rows → exploded (term, doc_id, pos) live
    occurrences (a store.apply_buckets row kernel)."""
    row, doc, pos = _decode_pos_rows(pdf, tomb, min_doc, max_doc)
    return pd.DataFrame(
        {"term": pdf["term"].to_numpy()[row], "doc_id": doc, "pos": pos}
    )


def _per_term_occurrences(
    pdf: pd.DataFrame,
    min_doc: int | None,
    max_doc: int | None,
    tomb: pd.DataFrame = NO_TOMBS,
) -> dict[str, tuple[np.ndarray, np.ndarray]]:
    """One doc-bucket's ENCODED position rows → per-term (doc, pos)
    live occurrence arrays, deduped across segments (pre-compaction
    overlap can repeat a (term, doc, pos) row; duplicates must never
    reach a counting kernel). Building block of the bucket-local
    phrase / proximity kernels."""
    row, doc, pos = _decode_pos_rows(pdf, tomb, min_doc, max_doc)
    codes, uniq = pd.factorize(pdf["term"])
    n_rows = np.bincount(codes, minlength=len(uniq))
    tid = codes[row]
    out: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    for j, term in enumerate(uniq):
        m = tid == j
        if not m.any():
            continue
        d, p = doc[m], pos[m]
        if n_rows[j] > 1:
            order = np.lexsort((p, d))
            d, p = d[order], p[order]
            keep = np.ones(len(d), dtype=bool)
            keep[1:] = (d[1:] != d[:-1]) | (p[1:] != p[:-1])
            d, p = d[keep], p[keep]
        out[term] = (d, p)
    return out


# ------------------------------------------------------------ store plumbing ---


def positions_dir(store: SegmentStore, segment_id: str) -> str:
    return os.path.join(store.seg_dir(segment_id), "positions")


def read_positions(
    spark: SparkSession,
    store: SegmentStore,
    segment_ids: list[str] | None = None,
) -> DataFrame:
    """Multi-segment scan of the positions datasets (M3/M4 analog);
    rows carry ``_sgen`` exactly when deletes are live
    (SegmentStore.scan).

    Every live segment must carry positions — a partial positional
    index would silently return incomplete phrase matches, so missing
    datasets raise instead."""
    live = store.live_segments()
    ids = list(segment_ids or live["segment_id"])
    if not ids:
        return spark.createDataFrame([], POSITIONS_SCHEMA)
    missing = [s for s in ids if not os.path.isdir(positions_dir(store, s))]
    if missing:
        raise ValueError(
            f"segments without positions: {missing} — rebuild with "
            "build_index(..., positions=True) (phrase results would be "
            "incomplete otherwise)"
        )
    return store.scan(spark, "positions", ids)


def decoded_occurrences(
    spark: SparkSession,
    store: SegmentStore,
    rows: DataFrame,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """Decode a positions scan into (term, doc_id, pos) occurrences,
    tombstones masked BEFORE any phrase/proximity kernel sees them.

    Scoped semantics (store.tombstoned): occurrences from segments
    OLDER than a tombstone are dropped while a reindexed doc's NEW
    positions survive — stale-copy rows must never reach a kernel,
    where they would manufacture phantom matches. Without deletes this
    is exactly the plain mapInPandas decode."""
    return apply_buckets(
        spark, store, rows,
        lambda pdf, tomb: decode_position_rows(pdf, tomb, min_doc, max_doc),
        "term string, doc_id long, pos long", rowwise=True,
    )


def merge_positions(
    spark: SparkSession,
    store: SegmentStore,
    victims: list[str],
    dest_segment_id: str,
) -> bool:
    """Compaction side-path: union victims' positions → re-encode → write into
    the merged segment. No-op (returns False) when no victim has
    positions; raises on partial coverage (same contract as reads)."""
    have = [s for s in victims if os.path.isdir(positions_dir(store, s))]
    if not have:
        return False
    if len(have) != len(victims):
        raise ValueError(
            f"cannot merge mixed positional coverage: {sorted(set(victims) - set(have))} "
            "lack positions"
        )
    # compaction physically purges tombstoned docs' positions, with
    # generation scoping — a reindexed doc's NEW positions (segment
    # newer than its tombstone batch) survive the rewrite (the
    # postings purge in merge._merge_bucket_pdf applies the same rule)
    rows = read_positions(spark, store, victims)
    occurrences = decoded_occurrences(spark, store, rows)
    bucket_size = store.pinned_bucket_size()
    if bucket_size is None:
        # a guessed width would re-encode positions into buckets
        # misaligned with the postings, breaking the store-wide
        # disjoint-bucket invariant — mirror pinned_bucket_size()'s
        # mixed-width guard and refuse instead
        raise ValueError(
            "store does not pin a bucket_size (pre-versioned manifest); "
            "cannot merge positions without the postings' bucket width"
        )
    merged = encode_positions_segment(occurrences, bucket_size)
    from inverted_index_spark.operators.build import TERM_BLOOM_OPTS

    w = merged.sortWithinPartitions("bucket", "term").write.mode("overwrite")
    for k, v in TERM_BLOOM_OPTS.items():
        w = w.option(k, v)
    w.parquet(positions_dir(store, dest_segment_id))
    return True


# ------------------------------------------------------------ phrase query ---


def phrase_match(
    spark: SparkSession,
    store: SegmentStore,
    phrase: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
    slop: int = 0,
) -> DataFrame:
    """(doc_id, n_matches) for docs containing the token phrase.

    slop=0 (default): exact adjacency — some token offset p has
    phrase[i] at p+i for all i; n_matches counts distinct phrase-start
    offsets. slop=s: ordered sloppy phrase (Lucene in-order SpanNear
    shape): a start at position p matches when every phrase[i] occurs
    somewhere in [p+i, p+i+s] — each later word may lag up to s tokens
    behind its exact slot, never lead. slop=0 under this definition is
    exactly the adjacency semantics (property-tested). Stated-semantics
    caveat: the per-offset condition is an EXISTS, so with slop>0 a
    phrase REPEATING a term can satisfy two offsets with the same
    occurrence ("a b b" sloppily matches "a x b"); at slop=0 offsets
    pin distinct positions and this cannot happen.

    Duplicate terms inside the phrase are handled (each occurrence row
    fans out once per phrase offset that term occupies). Empty phrase →
    empty result; any phrase term absent from the index → no matches.
    """
    rows = read_positions(spark, store) if phrase else None
    return phrase_match_rows(
        spark, rows, phrase, min_doc, max_doc, slop, store=store
    )


def sloppy_start_counts(
    doc: np.ndarray, off: np.ndarray, adj: np.ndarray, k: int, slop: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized sloppy-phrase start counting over MANY docs at once.

    Inputs are fanned occurrence rows (doc, phrase-offset, adjusted
    position = pos - offset) SORTED by (doc, adj). An anchor a (an
    offset-0 adjusted position) matches when every other offset has an
    adjusted position in [a, a+slop]. Doc resets ride the same offset
    key as :func:`min_cover_spans`: keys of different docs are >slop
    apart, so ONE global searchsorted per offset answers every doc —
    no per-doc Python."""
    n = len(doc)
    if n == 0:
        return doc[:0], off[:0]
    new_doc = np.empty(n, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = doc[1:] != doc[:-1]
    di = (np.cumsum(new_doc) - 1).astype(np.int64)
    width = np.int64(adj.max()) + np.int64(slop) + 2
    gkey = di * width + adj
    a_mask = off == 0
    akey, adoc = gkey[a_mask], doc[a_mask]
    ok = np.ones(len(akey), dtype=bool)
    for i in range(1, k):
        b = gkey[off == i]  # sorted: (doc, adj) sort order is key order
        idx = np.searchsorted(b, akey, side="left")
        hit = idx < len(b)
        ok &= hit
        ok[hit] &= b[idx[hit]] <= akey[hit] + slop
    docs, counts = np.unique(adoc[ok], return_counts=True)
    return docs, counts


def phrase_match_rows(
    spark: SparkSession,
    positions_rows: DataFrame | None,
    phrase: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
    slop: int = 0,
    store: SegmentStore | None = None,
) -> DataFrame:
    """phrase_match over an explicit POSITIONS_SCHEMA DataFrame — the
    building block Searcher.phrase uses with its cached scan. For rows
    carrying ``_sgen`` (a scan with live deletes) each bucket kernel
    gets ``store``'s live tombstones (store.apply_buckets), which
    :func:`_phrase_bucket` masks right after decoding, so a reindexed
    doc's stale positions can never manufacture phantom matches."""
    if not phrase:
        return spark.createDataFrame([], "doc_id long, n_matches long")
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    uniq = sorted(set(phrase))
    rows = positions_rows.where(F.col("term").isin(uniq))
    if min_doc is not None:
        rows = rows.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        rows = rows.where(F.col("min_doc") <= F.lit(int(max_doc)))
    offs_map = {t: [i for i, pt in enumerate(phrase) if pt == t] for t in uniq}
    return apply_buckets(
        spark, store, rows,
        lambda pdf, tomb: _phrase_bucket(
            pdf, tomb, offs_map, len(phrase), slop, min_doc, max_doc
        ),
        "doc_id long, n_matches long",
    ).transform(doc_order)


def _phrase_bucket(
    pdf: pd.DataFrame,
    tomb: pd.DataFrame,
    offs_map: dict[str, list[int]],
    k: int,
    slop: int,
    min_doc: int | None,
    max_doc: int | None,
) -> pd.DataFrame:
    """:func:`phrase_match_rows`' kernel: one doc-bucket's ENCODED
    position rows → (doc_id, n_matches) of its live docs. Decode (with
    cross-segment dedup and the tombstone mask), fan each occurrence
    out to the phrase offsets its term occupies, and count starts with
    :func:`sloppy_start_counts` — slop=0 under the sloppy definition IS
    the adjacency semantics (property-tested), so one kernel serves
    both."""
    empty = pd.DataFrame(
        {"doc_id": pd.Series(dtype="int64"), "n_matches": pd.Series(dtype="int64")}
    )
    per_term = _per_term_occurrences(pdf, min_doc, max_doc, tomb)
    if len(per_term) < len(offs_map):
        return empty  # a phrase term absent from this bucket
    d_parts, a_parts, o_parts = [], [], []
    for term, (d, p) in per_term.items():
        for off in offs_map[term]:
            adj = p - off
            m = adj >= 0
            d_parts.append(d[m])
            a_parts.append(adj[m])
            o_parts.append(np.full(int(m.sum()), off, dtype=np.int64))
    doc = np.concatenate(d_parts)
    if not len(doc):
        return empty
    adj = np.concatenate(a_parts)
    off = np.concatenate(o_parts)
    # per-term dedup already ran; a phrase offset maps to ONE term, so
    # (doc, adj, off) triples are unique — sort is all
    # sloppy_start_counts needs
    order = np.lexsort((adj, doc))
    d2, c2 = sloppy_start_counts(doc[order], off[order], adj[order], k, slop)
    return pd.DataFrame({"doc_id": d2, "n_matches": c2})


def phrase_starts(
    spark: SparkSession,
    store: SegmentStore,
    phrase: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, pos) — every token offset where the phrase starts
    (the pre-aggregation stream phrase_match counts). Exposed for
    snippet extraction and custom ranking."""
    if not phrase:
        return spark.createDataFrame([], "doc_id long, pos long")
    k = len(phrase)
    uniq = sorted(set(phrase))
    rows = read_positions(spark, store).where(F.col("term").isin(uniq))
    if min_doc is not None:
        rows = rows.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        rows = rows.where(F.col("min_doc") <= F.lit(int(max_doc)))
    # delete filter on the decoded occurrences, BEFORE the offset agg
    # (generation-scoped: a reindexed doc's stale positions are gone,
    # its new ones count)
    occ = decoded_occurrences(spark, store, rows, min_doc, max_doc)
    offsets = [(t, [i for i, pt in enumerate(phrase) if pt == t]) for t in uniq]
    off_df = spark.createDataFrame(offsets, "term string, offs array<int>")
    fanned = (
        occ.join(F.broadcast(off_df), "term")
        .select("doc_id", F.explode("offs").alias("off"), "pos")
        .select("doc_id", (F.col("pos") - F.col("off")).alias("adj"), "off")
        .where(F.col("adj") >= 0)
    )
    return (
        fanned.groupBy("doc_id", "adj")
        .agg(F.countDistinct("off").alias("_n"))
        .where(F.col("_n") == k)
        .select("doc_id", F.col("adj").alias("pos"))
    )


def phrase_snippets(
    spark: SparkSession,
    store: SegmentStore,
    phrase: list[str],
    context: int = 3,
) -> DataFrame:
    """(doc_id, n_matches, snippet) — matching docs with a token-window
    snippet around the FIRST phrase occurrence (``context`` tokens each
    side), the search-result highlighting surface. Needs both optional
    artifacts: positions (match offsets) and the doc store (text);
    tokenization and slicing are pure JVM expressions over the stored
    text, so the snippet is exact under the pinned tokenizer."""
    starts = phrase_starts(spark, store, phrase)
    agg = starts.groupBy("doc_id").agg(
        F.min("pos").alias("_first"), F.count("*").alias("n_matches")
    )
    texts = store.read_docs(spark).select("doc_id", "text")
    joined = agg.join(texts, "doc_id")
    toks = tokens_expr(F.col("text"))
    start_1b = F.greatest(F.col("_first") + 1 - context, F.lit(1))
    length = F.lit(len(phrase) + 2 * context)
    snippet = F.concat_ws(" ", F.slice(toks, start_1b, length))
    return (
        joined.select("doc_id", "n_matches", snippet.alias("snippet"))
        .orderBy("doc_id")
    )


_I64_MAX = np.iinfo(np.int64).max


def min_cover_spans(
    doc: np.ndarray, pos: np.ndarray, tid: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Segmented minimum covering span, fully vectorized (numpy).

    Inputs are occurrence arrays SORTED by (doc, pos); ``tid`` maps
    each occurrence to its query-term index in [0, k). For every row r
    the tightest window ending at r is
    ``pos[r] - min_t(latest occurrence of term t at or before r) + 1``,
    so k masked ``maximum.accumulate`` passes (one per query term —
    queries are few terms) + one ``minimum.reduceat`` over doc
    boundaries replace the per-occurrence Python two-pointer. Doc
    resets ride an offset key (doc_index * OFF + pos): a term whose
    latest occurrence lies in an earlier doc keys below the current
    doc's base and invalidates the row.

    Returns (doc_ids, min_span) for docs containing ALL k terms.
    """
    n = len(doc)
    if n == 0:
        return doc[:0], pos[:0]
    new_doc = np.empty(n, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = doc[1:] != doc[:-1]
    di = (np.cumsum(new_doc) - 1).astype(np.int64)
    off = np.int64(pos.max()) + 2
    gkey = di * off + pos
    doc_base = di * off
    recent_min = np.full(n, _I64_MAX, dtype=np.int64)
    for t in range(k):
        arr = np.where(tid == t, gkey, np.int64(-1))
        np.maximum.accumulate(arr, out=arr)
        np.minimum(recent_min, arr, out=recent_min)
    valid = recent_min >= doc_base
    span = np.where(valid, gkey - recent_min + 1, _I64_MAX)
    starts = np.flatnonzero(new_doc)
    best = np.minimum.reduceat(span, starts)
    has_all = best < _I64_MAX
    return doc[starts][has_all], best[has_all]


def term_snippets(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    context: int = 3,
) -> DataFrame:
    """(doc_id, first_pos, snippet) — highlighting for plain term
    queries (the OR-query counterpart of phrase_snippets): for every
    doc containing ANY query term, a token window of ``context`` each
    side around the FIRST occurrence of any of them. Positions give
    the offsets, the doc store gives the text; slicing is pure JVM
    over the pinned tokenizer, so snippets are exact.

    Scale note: this is a corpus-wide DATASET transform (it highlights
    every matching doc — the join is sized by the match set). For
    interactive top-k result pages, hydrate the k-row page via
    Searcher.fetch_text (bucket-pruned) and slice there instead."""
    uniq = sorted(set(terms))
    if not uniq:
        return spark.createDataFrame(
            [], "doc_id long, first_pos long, snippet string"
        )
    rows = read_positions(spark, store).where(F.col("term").isin(uniq))
    occ = decoded_occurrences(spark, store, rows)
    firsts = occ.groupBy("doc_id").agg(F.min("pos").alias("first_pos"))
    texts = store.read_docs(spark).select("doc_id", "text")
    joined = firsts.join(texts, "doc_id")
    toks = tokens_expr(F.col("text"))
    start_1b = F.greatest(F.col("first_pos") + 1 - context, F.lit(1))
    snippet = F.concat_ws(" ", F.slice(toks, start_1b, F.lit(1 + 2 * context)))
    return (
        joined.select("doc_id", "first_pos", snippet.alias("snippet"))
        .orderBy("doc_id")
    )


def terms_within_window(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    window: int,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, min_span) — proximity search (Lucene SpanNearQuery
    shape): docs where ALL the distinct query terms co-occur within
    ``window`` consecutive token positions; min_span is the tightest
    such span. The scan is pruned to the query terms, so the shuffle is
    sized by their occurrence count — same cost envelope as
    phrase_match. The kernel (:func:`min_cover_spans`) is pure numpy
    over every doc of a bucket at once — no per-doc Python call and no
    row-at-a-time loop (the brute-force itertools oracle in
    tests/test_positions.py pins equality)."""
    uniq = sorted(set(terms))
    if not uniq or window < 1:
        return spark.createDataFrame([], "doc_id long, min_span long")
    k = len(uniq)
    tmap = {t: i for i, t in enumerate(uniq)}
    rows = read_positions(spark, store).where(F.col("term").isin(uniq))
    if min_doc is not None:
        rows = rows.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        rows = rows.where(F.col("min_doc") <= F.lit(int(max_doc)))

    # bucket-local span kernel (same shape as phrase_match_rows): group
    # ENCODED rows by doc-bucket, decode (tombstones masked, cross-
    # segment duplicates deduped) + min_cover_spans in numpy, emit only
    # qualifying (doc_id, min_span) — no exploded-occurrence shuffle
    def run_bucket(pdf: pd.DataFrame, tomb: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "min_span": pd.Series(dtype="int64")}
        )
        per_term = _per_term_occurrences(pdf, min_doc, max_doc, tomb)
        if len(per_term) < k:
            return empty  # a query term absent from this bucket
        d_parts, p_parts, t_parts = [], [], []
        for term, (d, p) in per_term.items():
            d_parts.append(d)
            p_parts.append(p)
            t_parts.append(np.full(len(d), tmap[term], dtype=np.int64))
        doc = np.concatenate(d_parts)
        pos = np.concatenate(p_parts)
        tid = np.concatenate(t_parts)
        order = np.lexsort((pos, doc))
        d2, s2 = min_cover_spans(doc[order], pos[order], tid[order], k)
        m = s2 <= int(window)
        return pd.DataFrame({"doc_id": d2[m], "min_span": s2[m]})

    return apply_buckets(
        spark, store, rows, run_bucket, "doc_id long, min_span long"
    ).transform(doc_order)


def phrase_bm25_topk(
    spark: SparkSession,
    store: SegmentStore,
    phrase: list[str],
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Top-k BM25 over docs containing the phrase (exact, or sloppy
    with ``slop``): the classic two-stage phrase query (Lucene
    PhraseQuery + similarity): the positional match FILTERS, BM25 over
    the phrase's distinct terms RANKS. Ties break (score DESC, doc_id
    ASC) like every other top-k in the engine; compiles to TakeOrdered
    after a semi-join of the score stream against the match set."""
    from inverted_index_spark.operators.bm25 import bm25_scores

    matches = phrase_match(spark, store, phrase, slop=slop).select("doc_id")
    scores = bm25_scores(spark, store, sorted(set(phrase)))
    return (
        scores.join(matches, "doc_id", "leftsemi")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def ordered_gap_chain(
    doc: np.ndarray, pos: np.ndarray, tid: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Segmented minimal ORDERED interval, fully vectorized (numpy).

    Inputs are occurrence arrays sorted by (doc, pos); ``tid`` maps
    each occurrence to its query-term index in [0, k) — term order IS
    the required match order. For every occurrence of term 0, chain to
    the EARLIEST strictly-later occurrence of term 1, then term 2, …
    (k-1 global ``searchsorted`` calls — queries are few terms, so no
    per-doc or per-row Python). Greedy earliest-successor chaining is
    optimal for a fixed start, so the per-doc minimum over starts is
    the doc's true minimal ordered gap count. Doc resets ride the same
    doc_index * OFF + pos key trick as :func:`min_cover_spans`: a
    chain that crosses into a later doc lands >= that doc's base and
    is discarded by the same-doc check.

    Returns (doc_ids, min_gaps) for docs with at least one complete
    ordered chain; min_gaps = (end - start + 1) - k, the total slack
    the ES/Lucene ``intervals`` query bounds with ``max_gaps``.
    Thin wrapper over :func:`_chain_sequence` with the identity slot
    mapping — the sequence form also handles repeated query terms.
    """
    return _chain_sequence(doc, pos, tid, list(range(k)))


def intervals_match(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    max_gaps: int,
    ordered: bool = True,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """ES ``intervals`` query (match rule): docs containing all
    ``terms`` inside one interval whose total slack — interval width
    minus the number of terms — is at most ``max_gaps``; with
    ``ordered=True`` the terms must appear in query order (Lucene's
    ordered interval iterator), otherwise any order (which reduces to
    the minimal covering span, :func:`min_cover_spans`).

    Returns (doc_id, min_gaps) with min_gaps <= max_gaps, sorted by
    doc_id. In ordered mode repeated query terms bind to distinct
    positions (the successor chain is strictly increasing), matching
    Lucene; unordered mode rejects repeated terms — its covering-span
    reduction would let one occurrence satisfy both copies, which is
    NOT Lucene's unordered-intervals semantics.

    Scale: the positions scan is pruned to the query terms, groups by
    a coarse doc-hash (many docs per Arrow batch, no per-doc Python),
    and the kernel is k-1 vectorized searchsorted passes — the same
    cost envelope as terms_within_window."""
    if max_gaps < 0:
        raise ValueError(f"max_gaps must be >= 0, got {max_gaps}")
    seq = list(terms)
    if not seq:
        return spark.createDataFrame([], "doc_id long, min_gaps long")
    if not ordered:
        if len(set(seq)) != len(seq):
            raise ValueError(
                "unordered intervals with repeated terms are not "
                "supported (one occurrence would satisfy both copies); "
                "use ordered=True, where repeats bind distinct positions"
            )
        uniq = sorted(set(seq))
        spans = terms_within_window(
            spark, store, uniq, window=max_gaps + len(uniq), min_doc=min_doc,
            max_doc=max_doc,
        )
        return (
            spans.select(
                "doc_id", (F.col("min_span") - len(uniq)).alias("min_gaps")
            )
            .where(F.col("min_gaps") <= int(max_gaps))
            .orderBy("doc_id")
        )
    tmap: dict[str, int] = {}
    for t in seq:
        tmap.setdefault(t, len(tmap))
    tids = [tmap[t] for t in seq]
    uniq = sorted(tmap)
    rows = read_positions(spark, store).where(F.col("term").isin(uniq))
    if min_doc is not None:
        rows = rows.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        rows = rows.where(F.col("min_doc") <= F.lit(int(max_doc)))
    occ = decoded_occurrences(spark, store, rows, min_doc, max_doc)
    n_groups = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    k = len(seq)

    # remap: occurrence term -> position in the UNIQUE term list, then
    # chain over the QUERY sequence (repeats share one occurrence set)
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(
                {"doc_id": pd.Series(dtype="int64"),
                 "min_gaps": pd.Series(dtype="int64")}
            )
        pdf = pdf.sort_values(["doc_id", "pos"], kind="mergesort")
        # duplicate occurrences across overlapping live segments would
        # not change minimal gaps, but drop them for hygiene
        pdf = pdf.drop_duplicates(["term", "doc_id", "pos"])
        d = pdf["doc_id"].to_numpy(np.int64)
        p = pdf["pos"].to_numpy(np.int64)
        occ_tid = pdf["term"].map(tmap).to_numpy(np.int64)
        # expand the unique-term occurrence stream into the query
        # sequence's id space: occurrence of unique-term u serves every
        # sequence slot whose term is u — the chain below walks slots,
        # so relabel per slot via equality masks (k is tiny)
        docs_out, gaps_out = _chain_sequence(d, p, occ_tid, tids)
        return pd.DataFrame({"doc_id": docs_out, "min_gaps": gaps_out})

    spans = (
        occ.withColumn("_g", F.pmod(F.hash("doc_id"), F.lit(n_groups)))
        .groupBy("_g")
        .applyInPandas(
            lambda _key, pdf: run(pdf), schema="doc_id long, min_gaps long"
        )
    )
    return spans.where(F.col("min_gaps") <= int(max_gaps)).orderBy("doc_id")


def _chain_sequence(
    doc: np.ndarray, pos: np.ndarray, occ_tid: np.ndarray, slot_tids: list[int]
) -> tuple[np.ndarray, np.ndarray]:
    """ordered_gap_chain over a query SEQUENCE whose slots may repeat
    terms: slot i consumes occurrences of unique-term slot_tids[i]."""
    n = len(doc)
    k = len(slot_tids)
    if n == 0 or k < 1:
        return doc[:0], pos[:0]
    new_doc = np.empty(n, dtype=bool)
    new_doc[0] = True
    new_doc[1:] = doc[1:] != doc[:-1]
    di = (np.cumsum(new_doc) - 1).astype(np.int64)
    off = np.int64(pos.max()) + 2
    gkey = di * off + pos
    keys_by_term = {t: gkey[occ_tid == t] for t in set(slot_tids)}
    start = keys_by_term[slot_tids[0]]
    if not len(start):
        return doc[:0], pos[:0]
    cur = start.copy()
    for t in slot_tids[1:]:
        kt = keys_by_term[t]
        idx = np.searchsorted(kt, cur, side="right")
        ok = idx < len(kt)
        nxt = np.full(len(cur), _I64_MAX, dtype=np.int64)
        nxt[ok] = kt[idx[ok]]
        cur = nxt
    same_doc = (cur < _I64_MAX) & (cur // off == start // off)
    gaps = np.where(same_doc, cur - start + 1 - k, _I64_MAX)
    sdoc = (start // off).astype(np.int64)
    first = np.empty(len(sdoc), dtype=bool)
    first[0] = True
    first[1:] = sdoc[1:] != sdoc[:-1]
    heads = np.flatnonzero(first)
    best = np.minimum.reduceat(gaps, heads)
    has_chain = best < _I64_MAX
    doc_of_di = doc[np.flatnonzero(new_doc)]
    return doc_of_di[sdoc[heads][has_chain]], best[has_chain]
