"""Read path — the reference's three query entry points (SURVEY.md §2.2)
over any set of live segments, with cross-segment dedup (M3/M4):

    read_terms          R5  sorted term enumeration
    read_values         R10 OR-union of terms + [min,max] range → sorted unique
    read_all_values     R11 same without range
    and_values          posting-list intersection (north-rule AND extension)

Plan shape (what .explain should show): one multi-segment parquet
scan with ``term IN (...)`` pushed to the scan (term-partitioned
row-group pruning), one exchange of the ENCODED rows by doc-bucket,
and a bucket kernel that decodes (block-pruned), masks the store's
live tombstones (store.apply_buckets) and emits only result doc ids,
then one single-partition sort (store.doc_order) — no driver-side
collection anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inverted_index_spark.functions.codec import decode_rows_concat
from inverted_index_spark.sources.store import (
    NO_TOMBS,
    SegmentStore,
    apply_buckets,
    doc_order,
    tombstoned,
)


def _decode_rows(
    pdf: pd.DataFrame,
    tomb: pd.DataFrame = NO_TOMBS,
    min_doc: int | None = None,
    max_doc: int | None = None,
    with_tf: bool = False,
) -> pd.DataFrame:
    """Segment rows → exploded (term, doc_id[, tf, dl]) with block
    pruning and the rows' tombstones masked: one range-scoped decode
    per batch (a store.apply_buckets row kernel)."""
    row_lens, docs, tf_a, dl_a = decode_rows_concat(
        pdf["postings"], pdf["tfs"], pdf["dls"], pdf["blocks"], min_doc, max_doc
    )
    cols = {"term": np.repeat(pdf["term"].to_numpy(), row_lens), "doc_id": docs}
    if with_tf:
        cols["tf"] = tf_a.astype(np.int64)
        cols["dl"] = dl_a.astype(np.int64)
    out = pd.DataFrame(cols)
    dead = tombstoned(pdf, row_lens, docs, tomb)
    return out if dead is None else out[~dead]


def decoded_postings(
    spark: SparkSession,
    store: SegmentStore,
    rows: DataFrame,
    min_doc: int | None = None,
    max_doc: int | None = None,
    with_tf: bool = True,
) -> DataFrame:
    """Decode a postings scan into (term, doc_id[, tf, dl]) rows minus
    the store's live deletes (generation-scoped, store.apply_buckets)."""
    schema = "term string, doc_id long" + (", tf long, dl long" if with_tf else "")
    return apply_buckets(
        spark, store, rows,
        lambda pdf, tomb: _decode_rows(pdf, tomb, min_doc, max_doc, with_tf),
        schema, rowwise=True,
    )


_SQL_SAFE_MAX_ISIN = 32


def term_in_pred(col: str, terms: list[str]):
    """``col IN (...)`` as a Column, built in O(1) py4j calls.

    ``Column.isin(list)`` creates one literal Column PER element via a
    py4j round-trip (~0.5 ms each — measured 1.0 s of pure driver time
    for a 2000-term batch predicate, round-6); rendering the predicate
    as ONE SQL string costs ~2 ms and parses to the identical In
    expression (same pushdown, same results). Small lists keep isin.

    A quote or backslash inside a SQL literal parses differently under
    ``spark.sql.parser.escapedStringLiterals``, so terms carrying either
    take isin and only the rest are rendered — the predicate never
    depends on session conf."""
    terms = list(terms)
    if len(terms) <= _SQL_SAFE_MAX_ISIN:
        return F.col(col).isin(terms)
    odd = [t for t in terms if "'" in t or "\\" in t]
    plain = [t for t in terms if "'" not in t and "\\" not in t]
    if not plain:
        return F.col(col).isin(odd)
    inlist = ",".join(f"'{t}'" for t in plain)
    pred = F.expr(f"`{col}` IN ({inlist})")
    return pred | F.col(col).isin(odd) if odd else pred


def matching_rows(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str] | None,
    min_doc: int | None = None,
    max_doc: int | None = None,
    term_pred=None,
) -> DataFrame:
    """Pruned segment rows for a term set: predicate pushdown on term
    (sorted/partitioned layout → file + row-group skipping) plus
    row-level [min_doc, max_doc] envelope pruning — the reference's
    readTermsBitmaps + preselectSegments (single/single.go:548-657).
    ``terms=None`` keeps EVERY term (whole-index scans: term vectors,
    significant-terms — doc-range pruning still applies), unless
    ``term_pred`` gives an arbitrary pushable predicate over the term
    column instead (range/prefix reads — mutually exclusive with
    ``terms``). Filters push into every per-delete-class scan."""
    if terms is not None and term_pred is not None:
        raise ValueError("pass terms or term_pred, not both")
    seg = store.read_postings(spark)
    if terms is not None:
        out = seg.where(term_in_pred("term", list(terms)))
    elif term_pred is not None:
        out = seg.where(term_pred)
    else:
        out = seg
    if min_doc is not None:
        out = out.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        out = out.where(F.col("min_doc") <= F.lit(int(max_doc)))
    return out


def postings_df(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str] | None,
    min_doc: int | None = None,
    max_doc: int | None = None,
    with_tf: bool = True,
    term_pred=None,
) -> DataFrame:
    """Decoded (term, doc_id, tf, dl) rows for a term set (range-pruned;
    ``terms=None`` decodes ALL terms, for whole-index consumers),
    minus any live deletes — every downstream read/score path is
    delete-aware through this one decoder. Deletes are generation-
    scoped (store.tombstoned): rows decoded from a segment NEWER than a
    tombstone survive it, which is what makes reindex (delete + re-add)
    read correctly."""
    rows = matching_rows(spark, store, terms, min_doc, max_doc, term_pred=term_pred)
    return decoded_postings(spark, store, rows, min_doc, max_doc, with_tf)


def read_terms(spark: SparkSession, store: SegmentStore) -> DataFrame:
    """R5 + M3: sorted unique terms across all live segments."""
    return store.read_postings(spark).select("term").distinct().orderBy("term")


def read_values(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """R10 + M4: OR-union over terms, range-scoped, sorted unique doc ids.

    Empty term list → empty result (reference contract,
    single/single.go:157-159). Missing terms are silently skipped
    (single/single.go:563-568)."""
    if not terms:
        return spark.range(0).select(F.col("id").alias("doc_id"))
    # bucket-local union kernel: one small exchange of encoded rows +
    # in-kernel np.unique per doc-bucket (buckets partition the doc
    # space, so the per-bucket results are disjoint)
    rows = matching_rows(spark, store, sorted(set(terms)), min_doc, max_doc)
    return _bucket_setop_rows(
        spark, store, rows, min_doc, max_doc, None
    ).transform(doc_order)


def read_all_values(spark: SparkSession, store: SegmentStore, terms: list[str]) -> DataFrame:
    """R11: ReadValues with the global range (no constraint)."""
    return read_values(spark, store, terms)


def _flip_sign_bit(w: int) -> int:
    """int64 two's-complement sign-bit flip (order map between uint64
    and signed-long domains); stays within Python-int int64 range."""
    k = (int(w) & ((1 << 64) - 1)) ^ (1 << 63)
    return k - (1 << 64) if k >= (1 << 63) else k


def read_values_unsigned(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    min_val: int | None = None,
    max_val: int | None = None,
) -> DataFrame:
    """R10 over a ``build_value_index(..., unsigned=True)`` store:
    bounds and results use the WRAPPED-long image of uint64 values
    with UNSIGNED range semantics (full-uint64 reference parity,
    README.md:7). Bounds are sign-bit-flipped into the stored signed
    order, the read range-prunes as usual, and the result column is
    flipped back — sorted in UNSIGNED order."""
    lo = None if min_val is None else _flip_sign_bit(min_val)
    hi = None if max_val is None else _flip_sign_bit(max_val)
    vals = read_values(spark, store, terms, lo, hi)
    # result is sorted in stored (flipped) order == unsigned order;
    # flip back per row, keep that order
    return vals.select(
        F.col("doc_id").bitwiseXOR(F.lit(-(1 << 63))).alias("doc_id")
    )


def read_terms_prefix(
    spark: SparkSession, store: SegmentStore, prefix: str
) -> DataFrame:
    """Sorted unique terms with a given prefix — the FST range-seek the
    reference's vellum iterator supports (single/single.go:198-228 uses
    the full range; vellum itself seeks any key range). StartsWith is a
    pushable parquet predicate, so the sorted (bucket, term) layout
    prunes row groups exactly like the FST prunes its key space."""
    return (
        store.read_postings(spark)
        .where(F.col("term").startswith(prefix))
        .select("term")
        .distinct()
        .orderBy("term")
    )


def complete_terms(
    spark: SparkSession, store: SegmentStore, prefix: str, k: int = 10
) -> DataFrame:
    """ES completion suggester (index-backed autocomplete): the k
    most-frequent dictionary terms extending ``prefix``, as (term, df)
    ranked (df DESC, term ASC). The startswith predicate pushes into
    the sorted term layout like read_terms_prefix; df follows
    top_terms' two branches (metadata sum on a single clean segment,
    decoded distinct docs under overlap/deletes)."""
    rows = store.read_postings(spark).where(F.col("term").startswith(prefix))
    dfs = term_df_table(spark, store, rows)
    return dfs.orderBy(F.desc("df"), F.asc("term")).limit(k)


def read_terms_regex(
    spark: SparkSession, store: SegmentStore, pattern: str
) -> DataFrame:
    """Sorted unique terms matching a regex (Lucene RegexpQuery analog,
    anchored full-match like Java matches()). No pushdown is possible
    for general regexes (same in the reference: an FST can only
    range-seek) — the scan stays narrow because only the dictionary
    column is read (ReadSchema: term), never the posting bytes."""
    return (
        store.read_postings(spark)
        .select("term")
        .where(F.col("term").rlike(f"^(?:{pattern})$"))
        .distinct()
        .orderBy("term")
    )


def read_terms_suffix(
    spark: SparkSession, store: SegmentStore, suffix: str
) -> DataFrame:
    """Sorted unique terms ENDING with ``suffix`` — the leading-
    wildcard query (`*ow`). Lucene needs a reversed-term field for
    this; here the dictionary scan stays narrow (ReadSchema: term
    only, like the regex scan) but no pushdown is possible — the
    suffix predicate can't use the sorted-term layout. Fine for
    dictionary-sized scans; add a reversed-term column if this becomes
    a hot path."""
    return (
        store.read_postings(spark)
        .select("term")
        .where(F.col("term").endswith(suffix))
        .distinct()
        .orderBy("term")
    )


def read_values_regex(
    spark: SparkSession,
    store: SegmentStore,
    pattern: str,
    min_doc: int | None = None,
    max_doc: int | None = None,
    max_terms: int = 10_000,
) -> DataFrame:
    """R10 semantics driven by a regex term predicate (anchored
    full-match, like read_terms_regex): OR-union of every matching
    term's postings, range-scoped, sorted unique. Two-phase like
    Lucene's rewrite: the (cheap, term-only) dictionary scan resolves
    the matching terms, then a term-IN-pushed posting read fetches —
    the regex itself never touches posting bytes. The expansion is
    capped at ``max_terms`` (Lucene's maxClauseCount role): a
    vocabulary-sized expansion like ``.*`` would otherwise collect the
    whole dictionary to the driver AND defeat the IN-pushdown — raise
    instead so the caller narrows the pattern."""
    matched = [
        r["term"]
        for r in read_terms_regex(spark, store, pattern)
        .limit(max_terms + 1)
        .collect()
    ]
    if len(matched) > max_terms:
        raise ValueError(
            f"regex {pattern!r} expands to more than {max_terms} terms — "
            "narrow the pattern (or raise max_terms)"
        )
    return read_values(spark, store, matched, min_doc, max_doc)


def top_terms(spark: SparkSession, store: SegmentStore, k: int = 20) -> DataFrame:
    """(term, df): the k highest-document-frequency terms (stopword /
    vocabulary diagnostics; the reference's inspect CLI prints file
    stats, U1 — this is the dictionary-level analog). Deterministic
    ties: (df DESC, term ASC). Single segment sums the metadata df;
    overlapping segments count decoded distinct docs (same branch as
    bm25.term_dfs)."""
    dfs = term_df_table(spark, store, store.read_postings(spark))
    return dfs.orderBy(F.desc("df"), F.asc("term")).limit(k)


def _deletion_variants(term: str, depth: int = 1) -> list[str]:
    """term + every string reachable by deleting up to ``depth`` chars
    (the SymSpell deletion neighborhood). Two strings are within edit
    distance d (insert / delete / substitute) iff their depth-d
    deletion neighborhoods intersect — so a membership filter over
    dictionary-side variants finds ALL candidates without a join.
    Size is O(L^depth): ≤ L+1 for d=1, ≤ 1+L+L(L-1)/2 for d=2."""
    out, frontier = {term}, {term}
    for _ in range(depth):
        frontier = {w[:i] + w[i + 1 :] for w in frontier for i in range(len(w))}
        out |= frontier
    return sorted(out)


def _del1_expr(c: F.Column) -> F.Column:
    """All single-character deletions of a string column — codegen."""
    return F.transform(
        F.sequence(F.lit(1), F.length(c)),
        lambda i: F.concat(F.substring(c, 1, i - 1), c.substr(i + 1, F.length(c))),
    )


def _del2_expr(c: F.Column) -> F.Column:
    """All two-character deletions (positions i<j of the ORIGINAL
    string) — still pure codegen: a nested transform over index pairs.
    Empty for strings shorter than 2 (guarded; sequence(1, 0) would
    count DOWN in Spark)."""
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.length(c)),
                lambda j: F.concat(
                    F.substring(c, 1, i - 1),
                    F.substring(c, i + 1, j - i - 1),
                    c.substr(j + 1, F.length(c)),
                ),
            ),
        )
    )
    return F.when(F.length(c) >= 2, pairs).otherwise(F.array().cast("array<string>"))


def fuzzy_terms(
    spark: SparkSession, store: SegmentStore, term: str, max_edits: int = 1
) -> DataFrame:
    """Sorted unique dictionary terms within Levenshtein distance
    ``max_edits`` (1 or 2 — Lucene FuzzyQuery's surface) of ``term``.
    Scale path: the dictionary side explodes into deletion variants in
    pure codegen and filters them against the query's neighborhood (no
    join, no UDF — arrays_overlap builds a hash set of one side);
    survivors are verified with the built-in levenshtein, so the
    result is EXACT. Candidates are provably complete (shared-deletion
    property at depth d). A length band |len(term) - len(q)| <= d
    prunes before the variant expansion; at d=2 the dictionary-side
    arrays are O(L²) — bounded by the tokenizer's 64-char cap."""
    if max_edits not in (1, 2):
        raise NotImplementedError("fuzzy_terms supports max_edits in {1, 2}")
    qvars = _deletion_variants(term, max_edits)
    terms = store.read_postings(spark).select("term").distinct()
    terms = terms.where(
        (F.length("term") >= len(term) - max_edits)
        & (F.length("term") <= len(term) + max_edits)
    )
    variants = F.array_union(F.array(F.col("term")), _del1_expr(F.col("term")))
    if max_edits == 2:
        variants = F.array_union(variants, _del2_expr(F.col("term")))
    cand = terms.where(F.arrays_overlap(variants, F.array(*[F.lit(v) for v in qvars])))
    return (
        cand.where(F.levenshtein(F.col("term"), F.lit(term)) <= max_edits)
        .orderBy("term")
    )


def fuzzy_values(
    spark: SparkSession,
    store: SegmentStore,
    term: str,
    max_edits: int = 1,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """R10 OR-union over every term within edit distance of the probe
    (fuzzy retrieval): fuzzy_terms drives a term-IN-pushed posting
    read. The matched-term list is collected to the driver — bounded
    by the d<=2 neighborhood, which is tiny for any realistic vocab."""
    matched = [r["term"] for r in fuzzy_terms(spark, store, term, max_edits).collect()]
    return read_values(spark, store, matched, min_doc, max_doc)


def spell_suggest(
    spark: SparkSession,
    store: SegmentStore,
    term: str,
    max_edits: int = 2,
    k: int = 5,
) -> DataFrame:
    """Did-you-mean: (term, df) for the k most frequent dictionary
    terms within Levenshtein ``max_edits`` of the probe — Lucene
    DirectSpellChecker's popularity ranking over the same EXACT fuzzy
    candidate set :func:`fuzzy_terms` computes. Ties (df DESC, term
    ASC). The candidate neighborhood is tiny, so the df lookup is an
    isin-pushed metadata read; under segment overlap or live deletes
    it counts decoded distinct docs (same branch as top_terms)."""
    cand = [r["term"] for r in fuzzy_terms(spark, store, term, max_edits).collect()]
    if not cand:
        return spark.createDataFrame([], "term string, df long")
    rows = store.read_postings(spark).where(F.col("term").isin(cand))
    dfs = term_df_table(spark, store, rows)
    return dfs.orderBy(F.desc("df"), F.asc("term")).limit(k)


def value_histogram(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    bucket: int,
    min_val: int | None = None,
    max_val: int | None = None,
) -> DataFrame:
    """Date-histogram facet over an ordered-V value index: one R10
    read (OR-union, range-scoped) → one groupBy on the fixed-width
    bucket. The value index stores a sorted-UNIQUE value set per term
    (reference R10 semantics), so counts are of distinct indexed
    values per bucket — the ES date_histogram analog over an index of
    event timestamps. Non-negative values only (bucket floor is
    ``v - v % bucket``). Scale shape: the heavy work is the pruned
    index read; the histogram itself is a k-group aggregate."""
    if bucket <= 0:
        raise ValueError("bucket must be positive")
    vals = read_values(spark, store, terms, min_val, max_val)
    b = (F.col("doc_id") - (F.col("doc_id") % F.lit(int(bucket)))).cast("long")
    return (
        vals.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .orderBy("bucket")
    )


def read_values_prefix(
    spark: SparkSession,
    store: SegmentStore,
    prefix: str,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """R10 semantics with a term-prefix predicate instead of a term
    list: OR-union of every term matching the prefix, range-scoped,
    sorted unique doc ids (wildcard queries à la Lucene PrefixQuery)."""
    rows = matching_rows(
        spark, store, None, min_doc, max_doc, term_pred=F.col("term").startswith(prefix)
    )
    return _bucket_setop_rows(
        spark, store, rows, min_doc, max_doc, None
    ).transform(doc_order)


def except_values(
    spark: SparkSession,
    store: SegmentStore,
    include_terms: list[str],
    exclude_terms: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """Boolean NOT — docs matching any include term but no exclude term
    (Lucene MUST_NOT; absent from the reference, which stops at OR —
    SURVEY.md §2.5 set-ops note). Anti-join of two pruned posting
    streams, both sides term-IN-pushed; the exclude side never
    explodes more than its own postings."""
    inc = read_values(spark, store, include_terms, min_doc, max_doc)
    if not exclude_terms:
        return inc
    exc = postings_df(
        spark, store, sorted(set(exclude_terms)), min_doc, max_doc, with_tf=False
    ).select("doc_id")
    return inc.join(exc, "doc_id", "left_anti").orderBy("doc_id")


def _bucket_setop_rows(
    spark: SparkSession,
    store: SegmentStore,
    rows: DataFrame,
    min_doc: int | None,
    max_doc: int | None,
    need_all: int | None,
) -> DataFrame:
    """Bucket-local set algebra over ENCODED posting rows: decode one
    doc-bucket's matched rows inside the kernel and emit only the
    result doc ids — union (``need_all=None``) or k-way intersection
    (``need_all=k``).

    Buckets partition the doc space (bucket = doc_id div bucket_size),
    so both ops decompose exactly per bucket. vs the exploded
    distinct/countDistinct plans (round-6, guide §2.3/§2.4): the one
    hash exchange carries varint-encoded rows (~1-2 B/posting) instead
    of exploded 16-byte (term, doc_id) rows, the two aggregate
    exchanges disappear, and the Python boundary returns result ids
    only — never the exploded postings. Cross-segment duplicate
    (term, doc) rows are deduped in-kernel (np.unique), preserving M4
    semantics pre-compaction; the store's live tombstones are masked
    right after the decode (store.apply_buckets)."""
    return apply_buckets(
        spark, store, rows,
        lambda pdf, tomb: _setop_bucket(pdf, min_doc, max_doc, need_all, tomb),
        "doc_id long",
    )


def _setop_bucket(
    pdf: pd.DataFrame,
    min_doc: int | None,
    max_doc: int | None,
    need_all: int | None,
    tomb: pd.DataFrame = NO_TOMBS,
) -> pd.DataFrame:
    """:func:`_bucket_setop_rows`' kernel: one doc-bucket's matched
    rows → its union or k-way intersection of live doc ids."""
    empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64")})
    if not len(pdf):
        return empty
    codes, uniq = pd.factorize(pdf["term"])
    if need_all is not None and len(uniq) < need_all:
        return empty  # a query term absent from this bucket
    row_lens, docs, _, _ = decode_rows_concat(
        pdf["postings"], pdf["tfs"], pdf["dls"], pdf["blocks"], min_doc, max_doc
    )
    code_rep = np.repeat(codes.astype(np.int64), row_lens)
    dead = tombstoned(pdf, row_lens, docs, tomb)
    if dead is not None:
        docs, code_rep = docs[~dead], code_rep[~dead]
    if not len(docs):
        return empty
    if need_all is None:
        return pd.DataFrame({"doc_id": np.unique(docs)})
    # dedup (term, doc) pairs across segments, then k-of-k count
    order = np.lexsort((docs, code_rep))
    d2, c2 = docs[order], code_rep[order]
    keep = np.ones(len(d2), dtype=bool)
    keep[1:] = (c2[1:] != c2[:-1]) | (d2[1:] != d2[:-1])
    vals, counts = np.unique(d2[keep], return_counts=True)
    return pd.DataFrame({"doc_id": vals[counts == need_all]})


def and_values(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """North-rule extension: docs containing ALL terms — the
    bucket-local intersect kernel (:func:`_bucket_setop_rows`: one
    small exchange of encoded rows, exact k-way intersection of live
    docs in numpy per doc-bucket)."""
    uniq = sorted(set(terms))
    if not uniq:
        return spark.range(0).select(F.col("id").alias("doc_id"))
    rows = matching_rows(spark, store, uniq, min_doc, max_doc)
    return _bucket_setop_rows(
        spark, store, rows, min_doc, max_doc, len(uniq)
    ).transform(doc_order)


def term_df_table(
    spark: SparkSession, store: SegmentStore, rows: DataFrame
) -> DataFrame:
    """(term, df) over a postings scan: the metadata sum when the store
    says it is exact (SegmentStore.df_exact), else decoded distinct
    live docs (cross-segment overlap and tombstones are both exact)."""
    if store.df_exact():
        return rows.groupBy("term").agg(F.sum("df").alias("df"))
    return (
        decoded_postings(spark, store, rows, with_tf=False)
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
