"""ES-style phrase suggester (did-you-mean for whole queries): fuzzy
dictionary candidates per token × a bigram language model counted from
the positional index.

ES's phrase suggester generates per-term candidates with a
DirectCandidateGenerator and ranks whole corrected phrases by a
Laplace-smoothed word n-gram model built from index shingles
(org.elasticsearch.search.suggest.phrase). This engine has no shingle
field, but the positions index carries the same information: the
corpus frequency of bigram (a, b) is the number of occurrences where
``pos(b) = pos(a) + 1`` within a doc. So:

    score(phrase) = Σ_i ln( (adj(w_i, w_{i+1}) + α) / (ctf(w_i) + α·V) )
                    − edit_penalty · total_edits(phrase)

with ctf = collection term frequency (occurrences of w_i, the bigram-
prefix denominator up to end-of-doc boundary effects), V = exact
dictionary size, α add-smoothing, and an ES-candidate-generator-style
error-model penalty per edit.

Scale shape: candidates per token come from the codegen deletion-
variant fuzzy scan (query.fuzzy_terms); ALL candidates' df/ctf and ALL
wanted bigram counts come from two plans over the isin-pruned
positions scan (posting-list-sized, never corpus-sized); the combo
scoring runs driver-side over ≤ ``max_combos`` tiny rows. Single-token
queries fall back to spell_suggest ranking (no bigram evidence).
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inverted_index_spark.functions.tokenizer import tokenize_text
from inverted_index_spark.operators.positions import (
    decoded_occurrences,
    read_positions,
)
from inverted_index_spark.operators.query import fuzzy_terms
from inverted_index_spark.sources.store import SegmentStore


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


# exact dictionary size per (store, generation): the smoothing
# constant must be oracle-reproducible (manifest n_terms is an
# estimate), consistent with the delete-scoped ctf/adjacency counts
# (a term alive only in tombstoned docs must not inflate V), and NOT
# a per-query full-dictionary job on the interactive path
_VOCAB_MEMO: dict[tuple[str, int], int] = {}


def _vocab_size(spark: SparkSession, store: SegmentStore) -> int:
    key = (str(store.root), store.current_generation())
    if key not in _VOCAB_MEMO:
        from inverted_index_spark.operators.query import term_df_table

        n = term_df_table(spark, store, store.read_postings(spark)).count()
        _VOCAB_MEMO[key] = int(n)
    return _VOCAB_MEMO[key]


def phrase_suggest(
    spark: SparkSession,
    store: SegmentStore,
    text: str,
    k: int = 3,
    max_edits: int = 1,
    per_token: int = 5,
    alpha: float = 0.1,
    edit_penalty: float = 1.0,
    max_combos: int = 128,
) -> DataFrame:
    """Top-k corrected phrases for ``text`` as (suggestion, score),
    score DESC, suggestion ASC on ties. Requires a positions store."""
    toks = tokenize_text(text)
    if not toks:
        return spark.createDataFrame([], "suggestion string, score double")
    if len(toks) == 1:
        from inverted_index_spark.operators.query import spell_suggest

        s = spell_suggest(spark, store, toks[0], max_edits=max_edits, k=k)
        # popularity ranking, rescaled to a pseudo-logprob for a
        # uniform return contract
        return s.select(
            F.col("term").alias("suggestion"),
            F.log(F.col("df").cast("double")).alias("score"),
        )
    # --- per-token fuzzy candidate sets, df-ranked, capped ---
    cand_rows: dict[str, list[str]] = {}
    all_cands: set[str] = set()
    for t in dict.fromkeys(toks):  # each distinct token once
        cand_rows[t] = [
            r["term"] for r in fuzzy_terms(spark, store, t, max_edits).collect()
        ]
        all_cands.update(cand_rows[t])
    if not all_cands:
        return spark.createDataFrame([], "suggestion string, score double")
    cand_list = sorted(all_cands)
    # --- one pruned occurrence scan feeds ctf AND adjacency counts ---
    rows = read_positions(spark, store).where(
        F.col("term").isin(cand_list)
    )
    occ = decoded_occurrences(spark, store, rows).localCheckpoint()
    ctf = {
        r["term"]: r["n"]
        for r in occ.groupBy("term").agg(F.count("*").alias("n")).collect()
    }
    # rank each token's candidates by ctf and cap; keep the token
    # itself first when it is in the dictionary (ES missing-mode bias)
    slots: list[list[str]] = []
    for t in toks:
        ranked = sorted(
            (c for c in cand_rows[t] if ctf.get(c, 0) > 0),
            key=lambda c: (-ctf[c], c),
        )[:per_token]
        if t in ctf and t in ranked:
            ranked.remove(t)
            ranked.insert(0, t)
        if not ranked:
            return spark.createDataFrame(
                [], "suggestion string, score double"
            )
        slots.append(ranked)
    # cap the cartesian product deterministically: shrink the largest
    # slot (lowest-ranked candidate drops first) until it fits
    while math.prod(len(s) for s in slots) > max_combos:
        big = max(range(len(slots)), key=lambda i: len(slots[i]))
        slots[big] = slots[big][:-1]
    combos = list(itertools.product(*slots))
    # --- wanted bigram counts in ONE plan ---
    wanted = sorted(
        {(c[i], c[i + 1]) for c in combos for i in range(len(c) - 1)}
    )
    pairs_df = F.broadcast(
        spark.createDataFrame(wanted, "w1 string, w2 string")
    )
    a = occ.select(
        F.col("term").alias("w1"), "doc_id", (F.col("pos") + 1).alias("np")
    )
    b = occ.select(F.col("term").alias("w2"), "doc_id", F.col("pos").alias("np"))
    adj = {
        (r["w1"], r["w2"]): r["n"]
        for r in (
            a.join(b, ["doc_id", "np"])
            .join(pairs_df, ["w1", "w2"], "left_semi")
            .groupBy("w1", "w2")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    }
    vocab = _vocab_size(spark, store)
    # --- driver-side scoring over <= max_combos tiny rows ---
    scored = []
    for c in combos:
        lp = sum(
            math.log(
                (adj.get((c[i], c[i + 1]), 0) + alpha)
                / (ctf[c[i]] + alpha * vocab)
            )
            for i in range(len(c) - 1)
        )
        edits = sum(_levenshtein(t, w) for t, w in zip(toks, c))
        scored.append((" ".join(c), lp - edit_penalty * edits))
    scored.sort(key=lambda x: (-x[1], x[0]))
    return spark.createDataFrame(
        scored[:k], "suggestion string, score double"
    )
