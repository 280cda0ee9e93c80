"""ES ``match_phrase_prefix``: an exact phrase whose LAST position
accepts any term with a given prefix ("autocomplete-as-you-type"
phrase search — `"spark win"` matches "spark window", "spark winter",
…).

The reference library has no positional layer at all (term → posting
lists only, ``single/single.go``); this extends the repo's positional
phrase engine (``operators/positions.py``) the way Lucene's
MultiPhraseQuery does: the prefix expands to its first
``max_expansions`` dictionary terms (ES default 50, dictionary order
— the FST-style range seek is a pushable ``startswith`` predicate on
the sorted term column), every expansion maps to the LAST phrase
offset, and the exact-adjacency kernel is unchanged: fan occurrence
rows to (doc, start, offset) and keep starts covering all k offsets
(``countDistinct(off) == k``) — alternation at a position is free
because ANY expansion occurrence covers that offset.

Scale shape: identical to phrase_match (positions.py:344) — one
pruned positions scan for phrase terms + expansions, Arrow-batched
decode, one groupBy(doc, start) aggregation. The expansion list is
query-side metadata (≤ max_expansions strings in a broadcast), never
a per-term job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.store import SegmentStore
from .positions import decoded_occurrences, read_positions
from .query import read_terms_prefix

__all__ = ["match_phrase_prefix"]


def match_phrase_prefix(
    spark: SparkSession,
    store: SegmentStore,
    phrase: list[str],
    prefix: str,
    max_expansions: int = 50,
    min_doc: int | None = None,
    max_doc: int | None = None,
) -> DataFrame:
    """(doc_id, n_matches) — docs where ``phrase`` tokens appear
    adjacently, immediately followed by any term starting with
    ``prefix``. ``phrase`` may be empty (bare prefix-at-any-position
    degenerates to a prefix term query with occurrence counts).
    Expansion is capped at ``max_expansions`` terms in dictionary
    order (the ES contract); an unexpandable prefix matches nothing.
    """
    if max_expansions < 1:
        raise ValueError("max_expansions must be >= 1")
    if not prefix:
        raise ValueError("prefix must be non-empty")
    expansions = [
        r["term"]
        for r in read_terms_prefix(spark, store, prefix)
        .limit(max_expansions)
        .collect()  # ≤ max_expansions strings — query metadata
    ]
    if not expansions:
        return spark.createDataFrame([], "doc_id long, n_matches long")

    k = len(phrase) + 1
    last = k - 1
    offs: dict[str, list[int]] = {}
    for i, t in enumerate(phrase):
        offs.setdefault(t, []).append(i)
    for e in expansions:
        offs.setdefault(e, [])
        if last not in offs[e]:
            offs[e].append(last)

    uniq = sorted(offs)
    rows = read_positions(spark, store).where(F.col("term").isin(uniq))
    if min_doc is not None:
        rows = rows.where(F.col("max_doc") >= F.lit(int(min_doc)))
    if max_doc is not None:
        rows = rows.where(F.col("min_doc") <= F.lit(int(max_doc)))
    occ = decoded_occurrences(spark, store, rows, min_doc, max_doc)

    off_df = spark.createDataFrame(
        sorted(offs.items()), "term string, offs array<int>"
    )
    fanned = (
        occ.join(F.broadcast(off_df), "term")
        .select("doc_id", F.explode("offs").alias("off"), "pos")
        .select("doc_id", (F.col("pos") - F.col("off")).alias("adj"), "off")
        .where(F.col("adj") >= 0)
    )
    starts = (
        fanned.groupBy("doc_id", "adj")
        .agg(F.countDistinct("off").alias("_n"))
        .where(F.col("_n") == k)
    )
    return (
        starts.groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
        .orderBy("doc_id")
    )
