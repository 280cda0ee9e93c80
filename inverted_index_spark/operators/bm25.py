"""BM25 ranked retrieval (north-rule extension; the Go reference
stores postings but cannot score — SURVEY.md exec summary).

Pinned contract (must match inverted_index_spark.oracle exactly):
    k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5)+1)
    score(d,q) = Σ_t idf(t) · tf/(tf + k1·(1-b+b·dl/avgdl))
    ties: (score DESC, doc_id ASC)

Naive exhaustive path (this module): decode matching postings →
per-posting contribution (idf broadcast as a literal map, dl carried
inside the posting stream so NO join against a doc store) →
groupBy(doc_id).sum → orderBy.limit(k) (Spark TakeOrdered — no global
sort materialization). The WAND-pruned path lives in operators.wand
and must return identical results (property-tested).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inverted_index_spark.operators.query import matching_rows, postings_df, term_df_table
from inverted_index_spark.sources.store import SegmentStore

K1 = 1.2
B = 0.75


def corpus_stats(spark: SparkSession, store: SegmentStore) -> tuple[int, float]:
    """(N, avgdl) across live segments — exact, via the deduped doc
    stats union (manifest sums would overcount pre-compaction overlap).
    Live deletes are subtracted: scoring semantics after delete_docs
    are "as-if-rebuilt" on the surviving corpus (stronger than Lucene,
    whose stats drift until merge)."""
    dstats = store.read_docstats(spark)  # delete-aware (store filters)
    row = dstats.agg(
        F.count("*").alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    return int(row["n"] or 0), float(row["avgdl"] or 0.0)


def term_dfs(
    spark: SparkSession, store: SegmentStore, terms: list[str]
) -> dict[str, int]:
    """Global doc-frequency per query term. Segment rows carry df per
    (segment, bucket, term); buckets are disjoint, but distinct
    segments may overlap pre-compaction and tombstones shrink df →
    count decoded distinct live docs unless the store says the
    metadata sum is exact (SegmentStore.df_exact — the cheap path)."""
    rows = term_df_table(spark, store, matching_rows(spark, store, terms)).collect()
    return {r["term"]: int(r["df"]) for r in rows}


def idf(n_docs: int, df: int) -> float:
    return math.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def bm25_scores(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
    deterministic: bool = False,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """(doc_id, score) for every matching doc (exhaustive scorer).

    ``deterministic=True`` folds each doc's term contributions in
    sorted term order (sort_array + aggregate) instead of F.sum, so
    the float result is BIT-IDENTICAL across runs and partitionings —
    required wherever a score is compared exactly later (search_after
    cursors). Default off: the plain shuffle-order sum is faster and
    rank order is unaffected beyond ~1e-11 tie noise.

    ``boosts`` maps term → query-time boost (Lucene ``term^2``): the
    term's contribution is multiplied by the weight. Folding the boost
    into the per-term idf literal keeps the posting-stream plan
    unchanged — no extra column, no extra shuffle."""
    uniq = sorted(set(terms))
    n_docs, avgdl = corpus_stats(spark, store)
    dfs = term_dfs(spark, store, uniq)
    _b = boosts or {}
    idf_map = {
        t: idf(n_docs, dfs.get(t, 0)) * float(_b.get(t, 1.0))
        for t in uniq
        if t in dfs
    }
    if not idf_map or n_docs == 0:
        return spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    posts = postings_df(spark, store, list(idf_map), min_doc, max_doc, with_tf=True)
    if len(store.live_segments()) > 1:
        # pre-compaction overlap: the same (term, doc) may arrive from
        # two segments — keep one copy (text equality guarantees
        # identical tf/dl). A single segment has disjoint buckets, so
        # duplicates are impossible and the dedup exchange is skipped
        # on the most common (post-compaction) path.
        posts = posts.dropDuplicates(["term", "doc_id"])
    idf_expr = F.create_map(
        *[x for t, w in idf_map.items() for x in (F.lit(t), F.lit(float(w)))]
    )
    contrib = posts.withColumn(
        "contrib",
        idf_expr[F.col("term")]
        * F.col("tf")
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(float(avgdl)))),
    )
    if not deterministic:
        return contrib.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
    pairs = contrib.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias("_c")
    )
    return pairs.select(
        "doc_id",
        F.aggregate("_c", F.lit(0.0), lambda a, x: a + x["contrib"]).alias("score"),
    )


def bm25_topk(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    k: int = 10,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """Top-k (doc_id, score), ties (score DESC, doc_id ASC).

    orderBy().limit(k) compiles to TakeOrderedAndProject — per-partition
    heaps + a k-row driver merge, not a global sort."""
    return (
        bm25_scores(spark, store, terms, min_doc, max_doc)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ------------------------------------------------ pluggable similarities ---
#
# Lucene lets an index swap Similarity implementations over the same
# postings (IndexSearcher.setSimilarity); the two classics besides BM25
# are ClassicSimilarity (the VSM TF-IDF practical scoring function) and
# LMDirichletSimilarity (Zhai & Lafferty's Dirichlet-smoothed query
# likelihood). Both score from exactly the statistics the index already
# stores — (tf, dl) per posting, df / ctf per term, (N, avgdl) per
# corpus — so they reuse the same pruned posting scan as bm25_scores:
# no new artifact, no extra shuffle, just a different contribution
# expression. Pinned contracts (engine == test oracle == SQL oracle):
#
#   classic:   score(d) = Σ_t sqrt(tf) · (1 + ln(N/(df+1)))² / sqrt(dl)
#   dirichlet: score(d) = Σ_t max(0, ln(1 + tf/(μ·p(t|C))) + ln(μ/(dl+μ)))
#              p(t|C) = ctf(t) / (N·avgdl),  μ = 2000 by default

LMD_MU = 2000.0


def classic_scores(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, score) under ClassicSimilarity (TF-IDF VSM) — the
    Lucene pre-6 default, kept for rank-compat retrieval stacks."""
    uniq = sorted(set(terms))
    n_docs, _avgdl = corpus_stats(spark, store)
    dfs = term_dfs(spark, store, uniq)
    w_map = {
        t: (1.0 + math.log(n_docs / (dfs[t] + 1.0))) ** 2
        for t in uniq
        if t in dfs
    }
    if not w_map or n_docs == 0:
        return spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    posts = postings_df(spark, store, list(w_map), min_doc, max_doc, with_tf=True)
    if len(store.live_segments()) > 1:
        posts = posts.dropDuplicates(["term", "doc_id"])
    w_expr = F.create_map(
        *[x for t, w in w_map.items() for x in (F.lit(t), F.lit(float(w)))]
    )
    contrib = posts.withColumn(
        "contrib",
        w_expr[F.col("term")] * F.sqrt(F.col("tf")) / F.sqrt(F.col("dl")),
    )
    return contrib.groupBy("doc_id").agg(F.sum("contrib").alias("score"))


def lm_dirichlet_scores(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    mu: float = LMD_MU,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, score) under LMDirichletSimilarity: Dirichlet-smoothed
    query likelihood, per-term contributions clamped at 0 like Lucene
    (a very common term in a long doc would otherwise score negative).

    The collection model p(t|C) = ctf/total_tokens needs each query
    term's collection frequency — one extra aggregate over the SAME
    pruned posting scan (query-term-sized driver state, never
    corpus-sized)."""
    uniq = sorted(set(terms))
    n_docs, avgdl = corpus_stats(spark, store)
    if n_docs == 0:
        return spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    total_tokens = float(n_docs) * float(avgdl)
    posts = postings_df(spark, store, uniq, with_tf=True)
    if len(store.live_segments()) > 1:
        posts = posts.dropDuplicates(["term", "doc_id"])
    ctf = {
        r["term"]: int(r["ctf"])
        for r in posts.groupBy("term").agg(F.sum("tf").alias("ctf")).collect()
    }
    p_map = {t: ctf[t] / total_tokens for t in uniq if ctf.get(t)}
    if not p_map:
        return spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    if min_doc is not None or max_doc is not None:
        posts = postings_df(
            spark, store, list(p_map), min_doc, max_doc, with_tf=True
        )
        if len(store.live_segments()) > 1:
            posts = posts.dropDuplicates(["term", "doc_id"])
    else:
        posts = posts.where(F.col("term").isin(list(p_map)))
    p_expr = F.create_map(
        *[x for t, p in p_map.items() for x in (F.lit(t), F.lit(float(p)))]
    )
    contrib = posts.withColumn(
        "contrib",
        F.greatest(
            F.lit(0.0),
            F.log(
                F.lit(1.0)
                + F.col("tf") / (F.lit(float(mu)) * p_expr[F.col("term")])
            )
            + F.log(F.lit(float(mu)) / (F.col("dl") + F.lit(float(mu)))),
        ),
    )
    return contrib.groupBy("doc_id").agg(F.sum("contrib").alias("score"))


def similarity_topk(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    k: int = 10,
    similarity: str = "bm25",
    **kwargs,
) -> DataFrame:
    """Top-k under a chosen similarity — Lucene's
    IndexSearcher.setSimilarity surface: 'bm25' (default),
    'classic' (TF-IDF), 'dirichlet' (query likelihood, kw ``mu``)."""
    scorers = {
        "bm25": bm25_scores,
        "classic": classic_scores,
        "dirichlet": lm_dirichlet_scores,
    }
    if similarity not in scorers:
        raise ValueError(
            f"unknown similarity {similarity!r}; pick from {sorted(scorers)}"
        )
    s = scorers[similarity](spark, store, terms, **kwargs)
    return s.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def field_value_factor(
    col: str,
    factor: float = 1.0,
    modifier: str = "none",
    missing: float = 1.0,
):
    """ES ``function_score.field_value_factor``: a Column computing
    ``modifier(factor * doc[col])`` with ``missing`` for null fields.
    Supported modifiers: none, log1p, sqrt, square, reciprocal.
    ``reciprocal`` of a zero field value yields 0.0 (a doc with no
    signal contributes nothing) instead of aborting the job — Spark 4
    ANSI mode raises DIVIDE_BY_ZERO even for doubles, and ES likewise
    rejects the Infinity a plain 1/0 would produce."""
    x = F.coalesce(F.col(col).cast("double"), F.lit(float(missing))) * float(
        factor
    )
    mods = {
        "none": lambda c: c,
        "log1p": lambda c: F.log1p(c),
        "sqrt": lambda c: F.sqrt(c),
        "square": lambda c: c * c,
        "reciprocal": lambda c: F.when(c == 0.0, F.lit(0.0)).otherwise(
            F.lit(1.0) / c
        ),
    }
    if modifier not in mods:
        raise ValueError(f"unknown modifier {modifier!r} (have {sorted(mods)})")
    return mods[modifier](x)


def random_score(seed: int = 0, col: str = "doc_id"):
    """ES ``function_score.random_score`` with seed + field: a
    deterministic pseudo-uniform [0, 1) factor per doc — xxhash64 of
    the id column and the seed, scaled. Reproducible across runs and
    partitionings (ES requires a seed+field pair for exactly this
    guarantee); different seeds give independent orderings. Use with
    function_score_topk for seeded result shuffling / sampled
    ranking."""
    h = F.xxhash64(F.col(col), F.lit(int(seed)))
    # signed 64-bit → [-0.5, 0.5) → [0, 1)
    return h.cast("double") / F.lit(float(2**64)) + F.lit(0.5)


def gauss_decay(col: str, origin: float, scale: float, decay: float = 0.5,
                offset: float = 0.0):
    """ES ``function_score.gauss`` decay as a Column:
    exp(-(max(0, |x-origin|-offset))² / (2σ²)), σ² = -scale²/(2·ln decay)
    — e.g. recency boosts where ``col`` is an epoch timestamp."""
    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    sigma2 = -(float(scale) ** 2) / (2.0 * math.log(float(decay)))
    dist = F.greatest(
        F.lit(0.0),
        F.abs(F.col(col).cast("double") - F.lit(float(origin)))
        - F.lit(float(offset)),
    )
    return F.exp(-(dist * dist) / F.lit(2.0 * sigma2))


def function_score_topk(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    fields: DataFrame,
    factor,
    k: int = 10,
    boost_mode: str = "multiply",
) -> DataFrame:
    """ES ``function_score`` query: re-weight EVERY matching doc's BM25
    score by a per-doc function of its attributes, then take top-k.

    ``fields`` is a (doc_id, attributes...) DataFrame; ``factor`` is a
    Column over those attributes (build with field_value_factor /
    gauss_decay, or any pyspark expression). boost_mode multiply|sum —
    ES's two commonest combine modes.

    Scale: the function applies to the MATCH SET (post-BM25), not the
    corpus — one equi-join on doc_id that AQE broadcasts when the match
    set is small; both the factor and the combine stay in
    whole-stage-codegen. The final top-k is TakeOrderedAndProject."""
    s = bm25_scores(spark, store, terms)
    fac = F.coalesce(factor, F.lit(1.0))
    joined = s.join(fields, "doc_id", "left")
    if boost_mode == "multiply":
        scored = joined.select(
            "doc_id", (F.col("score") * fac).alias("score")
        )
    elif boost_mode == "sum":
        scored = joined.select(
            "doc_id", (F.col("score") + fac).alias("score")
        )
    else:
        raise ValueError(f"unknown boost_mode {boost_mode!r}")
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def rescore_topk(
    spark: SparkSession,
    store: SegmentStore,
    terms: list[str],
    phrase: list[str],
    k: int = 10,
    n_window: int = 100,
    query_weight: float = 1.0,
    rescore_weight: float = 2.0,
) -> DataFrame:
    """ES rescore: cheap query ranks a top-``n_window`` candidate
    window, an expensive phrase query re-ranks ONLY that window —

        final = query_weight * bm25(terms)
              + rescore_weight * (bm25(phrase tokens) if the exact
                                  phrase matches, else 0)

    the canonical shape being terms == phrase tokens: bag-of-words
    recall first, exact-adjacency precision on top, so phrase hits
    float above scattered-token hits without paying positional decode
    for the whole corpus. The window is TakeOrdered output (≤ n_window
    rows, broadcast-sized), so the rescore join and the positional
    read are both candidate-bounded — the 100 TB cost profile ES
    designed rescore for. Ties (final DESC, doc_id ASC)."""
    from inverted_index_spark.operators.positions import phrase_match

    window = (
        bm25_scores(spark, store, terms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(int(n_window))
    )
    ph_docs = phrase_match(spark, store, list(phrase)).select("doc_id")
    ph_scores = bm25_scores(spark, store, list(phrase)).join(
        ph_docs, "doc_id", "leftsemi"
    ).withColumnRenamed("score", "_p")
    final = F.lit(float(query_weight)) * F.col("score") + F.lit(
        float(rescore_weight)
    ) * F.coalesce("_p", F.lit(0.0))
    return (
        window.join(ph_scores, "doc_id", "left")
        .select("doc_id", final.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def synonym_scores(
    spark: SparkSession,
    store: SegmentStore,
    groups: list[list[str]],
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """Lucene SynonymQuery scoring: each group of terms scores as ONE
    pseudo-term — tf' = Σ tf over the group's members in the doc,
    idf from df' = max member df (Lucene's docFreq approximation,
    SynonymQuery javadoc) — so a synonym match never outscores a
    single-term match just by hitting several variants.

        score(d) = Σ_groups idf(max df) · tf'/(tf' + k1·(1-b+b·dl/avgdl))

    One decode pass over the union of all member terms, one per-group
    tf-sum, one per-doc sum — same shuffle count as bm25_scores."""
    flat = sorted({t for g in groups for t in g})
    if len(flat) != sum(len(set(g)) for g in groups):
        raise ValueError("synonym groups must be disjoint")
    n_docs, avgdl = corpus_stats(spark, store)
    dfs = term_dfs(spark, store, flat)
    group_w = {}
    for gi, g in enumerate(groups):
        df_max = max((dfs.get(t, 0) for t in g), default=0)
        if df_max > 0:
            group_w[gi] = idf(n_docs, df_max)
    if not group_w or n_docs == 0:
        return spark.range(0).select(
            F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
        )
    live = [t for gi in group_w for t in groups[gi] if t in dfs]
    posts = postings_df(spark, store, sorted(set(live)), min_doc, max_doc, with_tf=True)
    if len(store.live_segments()) > 1:
        posts = posts.dropDuplicates(["term", "doc_id"])
    term_group = F.create_map(
        *[
            x
            for gi in group_w
            for t in groups[gi]
            for x in (F.lit(t), F.lit(gi))
        ]
    )
    idf_by_group = F.create_map(
        *[x for gi, w in group_w.items() for x in (F.lit(gi), F.lit(float(w)))]
    )
    grouped = (
        posts.withColumn("_g", term_group[F.col("term")])
        .groupBy("doc_id", "_g")
        .agg(F.sum("tf").alias("tf"), F.first("dl").alias("dl"))
    )
    contrib = grouped.withColumn(
        "contrib",
        idf_by_group[F.col("_g")]
        * F.col("tf")
        / (F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(float(avgdl)))),
    )
    return contrib.groupBy("doc_id").agg(F.sum("contrib").alias("score"))


def synonym_topk(
    spark: SparkSession,
    store: SegmentStore,
    groups: list[list[str]],
    k: int = 10,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """Top-k over :func:`synonym_scores`, ties (score DESC, doc_id ASC)."""
    return (
        synonym_scores(spark, store, groups, min_doc, max_doc)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this(
    spark: SparkSession,
    store: SegmentStore,
    doc_id: int,
    n_terms: int = 10,
    k: int = 10,
) -> DataFrame:
    """Lucene MoreLikeThis: rank docs similar to ``doc_id`` by running
    BM25 over the source doc's most characteristic terms. Needs the doc
    store (build_index(store_text=True)).

    Term selection is DETERMINISTIC and integer-keyed (tf DESC, df ASC,
    term ASC, take n_terms): highest in-doc frequency first, rarest
    first among ties — the MLT "interesting terms" heuristic without
    float tf·idf ordering, so an external oracle reproduces the exact
    term set. The source doc itself is excluded from the results."""
    from inverted_index_spark.functions.tokenizer import tokenize_text

    bs = store.pinned_bucket_size()
    buckets = [int(doc_id) // bs] if bs else None  # prune the doc-store scan
    row = (
        store.read_docs(spark, buckets=buckets)
        .where(F.col("doc_id") == int(doc_id))
        .select("text")
        .collect()
    )
    if not row:
        raise KeyError(f"doc {doc_id} not in the doc store")
    toks = tokenize_text(row[0]["text"])
    if not toks:
        return spark.createDataFrame([], "doc_id long, score double")
    tf: dict[str, int] = {}
    for t in toks:
        tf[t] = tf.get(t, 0) + 1
    dfs = term_dfs(spark, store, sorted(tf))
    ranked = sorted(
        (t for t in tf if t in dfs), key=lambda t: (-tf[t], dfs[t], t)
    )[: int(n_terms)]
    if not ranked:
        return spark.createDataFrame([], "doc_id long, score double")
    return (
        bm25_scores(spark, store, ranked)
        .where(F.col("doc_id") != int(doc_id))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_pandas(scores: pd.DataFrame, k: int) -> pd.DataFrame:
    """Driver-side helper used by bench/oracle comparisons."""
    s = scores.sort_values(["score", "doc_id"], ascending=[False, True], kind="mergesort")
    return s.head(k).reset_index(drop=True)
