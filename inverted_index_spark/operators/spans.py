"""Lucene span queries over the positional index: ``span_first``,
``span_not``, ``span_or``, ``span_containing``, ``span_within``.

SpanFirstQuery(match, end): the span must START within the first
``end`` token positions of the document (position 0-based, start <
end) — the classic "match in title/lead paragraph" trick for corpora
stored as one concatenated field. The reference library has no
positional layer (``single/single.go``); this composes the repo's
positions artifact exactly like phrase_match (positions.py:344): one
pruned positions scan, Arrow-batched decode, the adjacency kernel
(countDistinct(off) == k over (doc, start) groups), then the span
filter ``start < end`` — a pure predicate on the aggregation key,
pushed before the final count.

SpanOrQuery / SpanContainingQuery / SpanWithinQuery complete the
span algebra over exact-phrase primitives (the same primitive
span_first/span_not take): span_or unions clause spans in ONE
adjacency kernel (clause id rides the groupBy key, so c clauses cost
one shuffle, not c); containing/within are an enclosure predicate —
an equi-join on doc_id with range filters over two query-term-sized
span sets, never corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.store import SegmentStore
from .positions import decoded_occurrences, read_positions

__all__ = [
    "span_containing",
    "span_first",
    "span_not",
    "span_or",
    "span_within",
]


def _pruned_occurrences(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    min_doc: int | None,
    max_doc: int | None,
) -> DataFrame:
    """One pruned positions scan shared by every span operator:
    (doc_id, term, pos) for the query terms only."""
    rows = read_positions(spark, store).where(F.col("term").isin(sorted(set(terms))))
    if min_doc is not None:
        rows = rows.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        rows = rows.where(F.col("min_doc") <= F.lit(int(max_doc)))
    return decoded_occurrences(spark, store, rows, min_doc, max_doc)


def _clause_spans(
    spark: SparkSession, occ: DataFrame, clauses: list[list[str]]
) -> DataFrame:
    """(doc_id, cid, start, end) spans for every exact-phrase clause,
    in ONE adjacency kernel: the clause id joins the groupBy key and a
    broadcast (cid → k) lookup closes the countDistinct(off) == k
    test. Duplicate occurrence rows from pre-compaction segment
    overlap collapse in the countDistinct, same as phrase_match."""
    trips = []  # (term, cid, off)
    ks = []  # (cid, k)
    for cid, phrase in enumerate(clauses):
        if not phrase:
            raise ValueError("span clauses must be non-empty phrases")
        ks.append((cid, len(phrase)))
        for off, t in enumerate(phrase):
            trips.append((t, cid, off))
    off_df = spark.createDataFrame(trips, "term string, cid int, off int")
    k_df = spark.createDataFrame(ks, "cid int, k int")
    return (
        occ.join(F.broadcast(off_df), "term")
        .select(
            "doc_id", "cid", (F.col("pos") - F.col("off")).alias("start"),
            "off",
        )
        .where(F.col("start") >= 0)
        .groupBy("doc_id", "cid", "start")
        .agg(F.countDistinct("off").alias("_n"))
        .join(F.broadcast(k_df), "cid")
        .where(F.col("_n") == F.col("k"))
        .select(
            "doc_id", "cid", "start",
            (F.col("start") + F.col("k") - 1).alias("end"),
        )
    )


def span_first(
    spark: SparkSession,
    store: SegmentStore,
    phrase: list[str],
    end: int,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, n_matches) — docs where the exact token ``phrase``
    has at least one start offset < ``end``; n_matches counts only
    those early starts. Single terms are one-word phrases."""
    if not phrase:
        return spark.createDataFrame([], "doc_id long, n_matches long")
    if end < 1:
        raise ValueError(f"end must be >= 1, got {end}")
    k = len(phrase)
    offs: dict[str, list[int]] = {}
    for i, t in enumerate(phrase):
        offs.setdefault(t, []).append(i)

    rows = read_positions(spark, store).where(F.col("term").isin(sorted(offs)))
    # span starts live in [0, end): only position blocks overlapping
    # the window matter — min_doc/max_doc prune as usual
    if min_doc is not None:
        rows = rows.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        rows = rows.where(F.col("min_doc") <= F.lit(int(max_doc)))
    occ = decoded_occurrences(spark, store, rows, min_doc, max_doc)
    # occurrences beyond end + k - 1 can never contribute to an early
    # start — drop them before the fan-out, not after
    occ = occ.where(F.col("pos") < F.lit(int(end) + k - 1))

    off_df = spark.createDataFrame(
        sorted(offs.items()), "term string, offs array<int>"
    )
    starts = (
        occ.join(F.broadcast(off_df), "term")
        .select("doc_id", F.explode("offs").alias("off"), "pos")
        .select("doc_id", (F.col("pos") - F.col("off")).alias("adj"), "off")
        .where((F.col("adj") >= 0) & (F.col("adj") < F.lit(int(end))))
        .groupBy("doc_id", "adj")
        .agg(F.countDistinct("off").alias("_n"))
        .where(F.col("_n") == k)
    )
    return (
        starts.groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
        .orderBy("doc_id")
    )


def span_not(
    spark: SparkSession,
    store: SegmentStore,
    phrase: list[str],
    exclude: list[str],
    pre: int = 0,
    post: int = 0,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, n_matches) — Lucene SpanNotQuery: exact-phrase spans
    that do NOT have an occurrence of any ``exclude`` term within
    ``pre`` positions before the span start or ``post`` positions
    after the span end. A phrase span starting at ``s`` (covering
    ``[s, s+k-1]``) is rejected iff some excluded occurrence ``p``
    satisfies ``s - pre <= p <= s + k - 1 + post``.

    One pruned positions scan covers both sides (the phrase terms and
    the exclusion terms share the decode), then a left-anti range join
    removes poisoned spans. Both sides are query-term-sized, so the
    join input is bounded by posting-list length, never corpus size.
    Duplicate occurrences from pre-compaction segment overlap are
    harmless on both sides: the phrase kernel collapses them via
    countDistinct(off) and the anti-join only tests existence.
    """
    if not phrase:
        return spark.createDataFrame([], "doc_id long, n_matches long")
    if pre < 0 or post < 0:
        raise ValueError(f"pre/post must be >= 0, got {pre}/{post}")
    k = len(phrase)
    offs: dict[str, list[int]] = {}
    for i, t in enumerate(phrase):
        offs.setdefault(t, []).append(i)
    ex_terms = sorted(set(exclude))
    all_terms = sorted(set(offs) | set(ex_terms))

    rows = read_positions(spark, store).where(F.col("term").isin(all_terms))
    if min_doc is not None:
        rows = rows.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        rows = rows.where(F.col("min_doc") <= F.lit(int(max_doc)))
    # no cache: both consumers re-read a query-term-pruned scan, which
    # is cheaper than holding an unpersist obligation on a lazy result
    occ = decoded_occurrences(spark, store, rows, min_doc, max_doc)

    off_df = spark.createDataFrame(
        sorted(offs.items()), "term string, offs array<int>"
    )
    starts = (
        occ.join(F.broadcast(off_df), "term")
        .select("doc_id", F.explode("offs").alias("off"), "pos")
        .select("doc_id", (F.col("pos") - F.col("off")).alias("adj"), "off")
        .where(F.col("adj") >= 0)
        .groupBy("doc_id", "adj")
        .agg(F.countDistinct("off").alias("_n"))
        .where(F.col("_n") == k)
        .select("doc_id", "adj")
    )
    if ex_terms:
        poison = occ.where(F.col("term").isin(ex_terms)).select(
            F.col("doc_id").alias("p_doc"), F.col("pos").alias("p_pos")
        )
        starts = starts.join(
            poison,
            (F.col("doc_id") == F.col("p_doc"))
            & (F.col("p_pos") >= F.col("adj") - F.lit(int(pre)))
            & (F.col("p_pos") <= F.col("adj") + F.lit(k - 1 + int(post))),
            "left_anti",
        )
    return (
        starts.groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
        .orderBy("doc_id")
    )


def span_or(
    spark: SparkSession,
    store: SegmentStore,
    clauses: list[list[str]],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, n_matches) — Lucene SpanOrQuery over exact-phrase
    clauses: n_matches counts DISTINCT (start, end) spans per doc
    matched by ANY clause (two clauses producing the same span — e.g.
    a repeated clause — contribute one span, the merged-iterator
    view). One pruned positions scan + one adjacency kernel covers
    all clauses."""
    if not clauses:
        return spark.createDataFrame([], "doc_id long, n_matches long")
    if not all(clauses):
        raise ValueError("span clauses must be non-empty phrases")
    all_terms = [t for p in clauses for t in p]
    occ = _pruned_occurrences(spark, store, all_terms, min_doc, max_doc)
    spans = _clause_spans(spark, occ, clauses)
    return (
        spans.select("doc_id", "start", "end")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
        .orderBy("doc_id")
    )


def _enclosure(
    spark: SparkSession,
    store: SegmentStore,
    big: list[str],
    little: list[str],
    keep: str,
    min_doc: int | None,
    max_doc: int | None,
) -> DataFrame:
    """Shared SpanContaining/SpanWithin body: spans of ``keep`` side
    ('big' | 'little') that satisfy big.start <= little.start AND
    little.end <= big.end with at least one partner span. The join is
    doc_id-equi with range filters; both sides are posting-list-sized
    (query terms only), so the join never touches corpus-scale data.
    Existence is tested with left_semi — duplicate partner spans
    cannot double-count."""
    if not big or not little:
        return spark.createDataFrame([], "doc_id long, n_matches long")
    occ = _pruned_occurrences(spark, store, big + little, min_doc, max_doc)
    spans = _clause_spans(spark, occ, [big, little])
    b = spans.where(F.col("cid") == 0).select(
        F.col("doc_id").alias("b_doc"),
        F.col("start").alias("b_start"),
        F.col("end").alias("b_end"),
    )
    l = spans.where(F.col("cid") == 1).select(
        F.col("doc_id").alias("l_doc"),
        F.col("start").alias("l_start"),
        F.col("end").alias("l_end"),
    )
    enclosed = (
        (F.col("b_doc") == F.col("l_doc"))
        & (F.col("b_start") <= F.col("l_start"))
        & (F.col("l_end") <= F.col("b_end"))
    )
    if keep == "big":
        kept = b.join(l, enclosed, "left_semi").select(
            F.col("b_doc").alias("doc_id")
        )
    else:
        kept = l.join(b, enclosed, "left_semi").select(
            F.col("l_doc").alias("doc_id")
        )
    return (
        kept.groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
        .orderBy("doc_id")
    )


def span_containing(
    spark: SparkSession,
    store: SegmentStore,
    big: list[str],
    little: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, n_matches) — Lucene SpanContainingQuery(big, little):
    spans of the exact phrase ``big`` that fully CONTAIN at least one
    span of ``little`` (big.start <= little.start and little.end <=
    big.end); n_matches counts qualifying big spans."""
    return _enclosure(spark, store, big, little, "big", min_doc, max_doc)


def span_within(
    spark: SparkSession,
    store: SegmentStore,
    big: list[str],
    little: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, n_matches) — Lucene SpanWithinQuery(big, little):
    spans of ``little`` that occur fully WITHIN at least one span of
    ``big``; n_matches counts qualifying little spans. Same enclosure
    join as span_containing, keeping the other side."""
    return _enclosure(spark, store, big, little, "little", min_doc, max_doc)
