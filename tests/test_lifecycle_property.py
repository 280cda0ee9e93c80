"""Randomized store-lifecycle property test: a seeded random sequence
of {build chunk, delete docs, reindex docs, merge, cleanup} must leave
the store EXACTLY "as-if-rebuilt" — read_values / and_values /
read_values_prefix / phrase_match (exact and sloppy) / read_terms /
BM25 equal to a fresh single-build over the logically surviving
corpus.

This is the engine's trickiest invariant surface (generation-scoped
delete batches × merge purging × reindex supersession × cleanup); two
round-5 bugs (Iceberg generation regression after cleanup, the
mid-merge delete race) lived exactly here. The directed tests in
test_deletes / test_reindex / test_merge pin the single interactions;
this fuzzes the COMPOSITIONS. Ops run sequentially (the concurrent
schedules live in test_store_concurrency); what's random is the order,
the arity, and which docs each op touches.

Reference tie-in: merge invariance is the reference's own property
(multiple/multiple_index_test.go:216-290); deletes/reindex extend it.
"""

from __future__ import annotations

import random

from inverted_index_spark.operators.bm25 import bm25_scores
from inverted_index_spark.operators.build import build_index, reindex_docs
from inverted_index_spark.operators.merge import merge_segments
from inverted_index_spark.operators.positions import phrase_match
from inverted_index_spark.operators.query import (
    and_values,
    read_terms,
    read_values,
    read_values_prefix,
)
from inverted_index_spark.sources.store import SegmentStore

VOCAB = [f"t{i:02d}" for i in range(12)]
# every build of the sequence and of its fresh twin
BUILD_KW = dict(bucket_size=16, block_size=8, positions=True)


def _mk_text(rng: random.Random) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(3, 9)))


def _apply_model(model: dict[int, str], op: str, payload) -> None:
    """The oracle: a plain dict doc_id -> current text (None = gone)."""
    if op == "add" or op == "reindex":
        for d, t in payload:
            model[d] = t
    elif op == "delete":
        for d in payload:
            model.pop(d, None)


def _fresh_equivalent(spark, tmp_path, model: dict[int, str], tag: str):
    ref = SegmentStore(str(tmp_path / f"ref_{tag}"))
    df = spark.createDataFrame(
        sorted(model.items()), "doc_id long, text string"
    )
    build_index(spark, df, ref, **BUILD_KW)
    return ref


def _snapshot(spark, store, probe_terms):
    def ids(df):
        return [r["doc_id"] for r in df.collect()]

    pair = probe_terms[:2]
    vals = {
        **{t: ids(read_values(spark, store, [t])) for t in probe_terms},
        "and": ids(and_values(spark, store, pair)),
        "prefix": ids(read_values_prefix(spark, store, "t0")),
        **{
            f"phrase~{slop}": sorted(
                (r["doc_id"], r["n_matches"])
                for r in phrase_match(spark, store, pair, slop=slop).collect()
            )
            for slop in (0, 2)
        },
    }
    terms = [r["term"] for r in read_terms(spark, store).collect()]
    scores = sorted(
        (r["doc_id"], round(r["score"], 9))
        for r in bm25_scores(spark, store, probe_terms).collect()
    )
    return vals, terms, scores


def test_random_lifecycle_as_if_rebuilt(spark, tmp_path):
    for seed in (7, 23):
        rng = random.Random(seed)
        store = SegmentStore(str(tmp_path / f"idx_{seed}"))
        model: dict[int, str] = {}
        next_id = 0

        # seed corpus so every op has something to chew on
        first = [(i, _mk_text(rng)) for i in range(20)]
        next_id = 20
        build_index(
            spark,
            spark.createDataFrame(first, "doc_id long, text string"),
            store,
            **BUILD_KW,
        )
        _apply_model(model, "add", first)

        for step in range(10):
            op = rng.choice(["add", "delete", "reindex", "merge", "cleanup"])
            if op == "add":
                batch = [
                    (next_id + j, _mk_text(rng)) for j in range(rng.randint(1, 6))
                ]
                next_id += len(batch)
                build_index(
                    spark,
                    spark.createDataFrame(batch, "doc_id long, text string"),
                    store,
                    **BUILD_KW,
                )
                _apply_model(model, "add", batch)
            elif op == "delete" and model:
                victims = rng.sample(
                    sorted(model), k=min(len(model), rng.randint(1, 4))
                )
                store.delete_docs(spark, victims)
                _apply_model(model, "delete", victims)
            elif op == "reindex" and model:
                ids = rng.sample(
                    sorted(model), k=min(len(model), rng.randint(1, 3))
                )
                batch = [(d, _mk_text(rng)) for d in ids]
                reindex_docs(
                    spark,
                    spark.createDataFrame(batch, "doc_id long, text string"),
                    store,
                    **BUILD_KW,
                )
                _apply_model(model, "reindex", batch)
            elif op == "merge":
                merge_segments(spark, store, min_files=2, max_files=4)
            elif op == "cleanup":
                store.cleanup(grace_s=0.0)

        # final state must equal a fresh build over the surviving corpus
        ref = _fresh_equivalent(spark, tmp_path, model, f"s{seed}")
        probe = rng.sample(VOCAB, k=4)
        got, ref_snap = _snapshot(spark, store, probe), _snapshot(
            spark, ref, probe
        )
        assert got[0] == ref_snap[0], f"seed {seed}: read_values diverged"
        # dictionary may lag only UNTIL compaction rewrites the last
        # posting away (Lucene-like), so compare as superset pre-merge
        assert set(got[1]) >= set(ref_snap[1]), f"seed {seed}: terms lost"
        assert got[2] == ref_snap[2], f"seed {seed}: BM25 diverged"
        # and after full compaction the dictionary converges exactly
        while merge_segments(spark, store, min_files=2, max_files=64):
            pass
        merge_segments(spark, store, min_files=1)
        got2 = _snapshot(spark, store, probe)
        assert got2[0] == ref_snap[0], f"seed {seed}: post-compact values"
        assert set(got2[1]) == set(ref_snap[1]), f"seed {seed}: post-compact terms"
        assert got2[2] == ref_snap[2], f"seed {seed}: post-compact BM25"
