"""Size-tiered compaction — the reference's directory merge
(NewMerger/Merge/Cleanup, /root/reference/multiple/multiple_index.go:45-252)
as a Spark job over the manifest:

    pick ≤max smallest live segments (≥min required)          [M7]
    → union their postings scans                              [M8 fan-out ≙
      partition parallelism, not goroutines]
    → groupBy(bucket, term) → decode-concat-sortunique-reencode
      inside applyInPandas                                    [M8 per-term merge]
    → write merged segment, commit manifest swap atomically   [M9]
    → cleanup() deletes tombstoned data                       [M10]

Invariant (property-tested, mirrors multiple_index_test.go:216-290):
merging never changes read_terms/read_values/BM25 results.
"""

from __future__ import annotations

import os
import shutil
import threading

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from inverted_index_spark.functions.codec import DEFAULT_BLOCK, decode_rows_concat
from inverted_index_spark.operators.build import encode_bucket_arrays
from inverted_index_spark.sources.store import (
    NO_TOMBS,
    POSTINGS_SCHEMA,
    ErrMergeConflict,
    SegmentStore,
    apply_buckets,
    dir_bytes,
    new_segment_id,
    tombstoned,
)


def _merge_bucket_pdf(
    pdf: pd.DataFrame, block_size: int, tomb: pd.DataFrame = NO_TOMBS
) -> pd.DataFrame:
    """One doc-bucket's rows across input segments → one re-encoded row
    per term. Decode all rows into term-repeated arrays, sort-unique
    per (term, doc) keeping the first (tf, dl) (duplicates are the same
    doc re-indexed; the reference concats then sort-dedups,
    multiple/multiple_index.go:199-213), then the same vectorized
    bucket encoder the build path uses.

    df=0 rows are empty-postings term REGISTRATIONS (reference keeps
    Put(term, []) in the FST — single_test.go:74-86): they carry no
    decodable streams, so they are re-emitted verbatim (deduped) instead
    of decoded — merging must never drop a registered term (the
    merge-invariance contract on read_terms).

    ``tomb`` (the store's live tombstones, store.apply_buckets)
    physically purges tombstoned docs from the rewrite with GENERATION
    SCOPING (store.tombstoned): a reindexed doc's new postings survive
    while every stale copy vanishes — the purge runs per source row,
    BEFORE the cross-segment dedup could arbitrarily keep a stale copy.
    A term whose postings all pointed at deleted docs drops from the
    dictionary ("as-if-rebuilt"; explicit df=0 registrations
    survive)."""
    cols = list(POSTINGS_SCHEMA.fieldNames())
    passthrough = pdf[pdf["df"] == 0].drop_duplicates(subset=["term"])[cols]
    pdf = pdf[pdf["df"] > 0]
    if not len(pdf):
        return passthrough
    bucket = int(pdf["bucket"].iloc[0])
    # ONE decode for the whole bucket: on fragment segments (tens of
    # thousands of tiny rows per bucket) a per-row decode's fixed
    # overhead was 80% of the merge kernel, measured
    row_lens, docs, tfs_a, dls_a = decode_rows_concat(
        pdf["postings"], pdf["tfs"], pdf["dls"], pdf["blocks"]
    )
    terms_rep = np.repeat(pdf["term"].to_numpy(), row_lens)
    tfs_a = tfs_a.astype(np.int64)
    dls_a = dls_a.astype(np.int64)
    dead = tombstoned(pdf, row_lens, docs, tomb)
    if dead is not None:
        alive = ~dead
        terms_rep = terms_rep[alive]
        docs, tfs_a, dls_a = docs[alive], tfs_a[alive], dls_a[alive]
    if not len(docs):
        return passthrough
    flat = pd.DataFrame(
        {
            "term": terms_rep,
            "doc_id": docs,
            "tf": tfs_a,
            "dl": dls_a,
        }
    ).sort_values(["term", "doc_id"], kind="mergesort")
    terms = flat["term"].to_numpy()
    docs = flat["doc_id"].to_numpy(dtype=np.int64)
    tfs = flat["tf"].to_numpy(dtype=np.int64)
    dls = flat["dl"].to_numpy(dtype=np.int64)
    keep = np.ones(len(docs), dtype=bool)
    keep[1:] = ~((terms[1:] == terms[:-1]) & (docs[1:] == docs[:-1]))
    terms, docs, tfs, dls = terms[keep], docs[keep], tfs[keep], dls[keep]
    out = encode_bucket_arrays(terms, docs, tfs, dls, bucket, block_size)
    return pd.concat([out, passthrough], ignore_index=True) if len(passthrough) else out


def merge_segments(
    spark: SparkSession,
    store: SegmentStore,
    min_files: int = 2,
    max_files: int = 8,
    block_size: int = DEFAULT_BLOCK,
) -> str | None:
    """One compaction pass. Returns the merged segment_id, or None if
    fewer than min_files live segments exist (reference no-op path)."""
    victims = store.pick_merge_candidates(min_files, max_files)
    if not victims:
        return None
    bucket_size = store.pinned_bucket_size() or 0  # inherited, never changed

    del_rows = store.live_deletes()
    del_ids = list(del_rows["segment_id"]) if len(del_rows) else []
    # one plan: the victims' rows grouped by bucket, the live
    # tombstones purged in the rewrite kernel (apply_buckets)
    merged = apply_buckets(
        spark, store, store.read_postings(spark, victims),
        lambda pdf, tomb: _merge_bucket_pdf(pdf, block_size, tomb),
        POSTINGS_SCHEMA,
    )
    segment_id = new_segment_id()
    seg_dir = store.seg_dir(segment_id)
    # groupBy(bucket) already partitioned the output by bucket
    from inverted_index_spark.operators.build import TERM_BLOOM_OPTS

    # segment stats ride the WRITE jobs via Observation metrics (the
    # same zero-read-back shape the build path uses, round-6): only
    # n_terms — an exact cross-bucket countDistinct, which Observation
    # cannot express — needs a read-back, and that scan reads the term
    # column alone. The independent datasets (postings, docstats,
    # positions, docs) write as CONCURRENT jobs, overlapping their
    # commit protocols and job tails exactly like the build path.
    from pyspark.sql import Observation

    obs = Observation(f"merge-{segment_id}")
    merged = merged.observe(
        obs,
        F.sum("df").alias("n_postings"),
        F.min("min_doc").alias("min_doc"),
        F.max("max_doc").alias("max_doc"),
        F.try_divide(F.max("df"), F.avg("df")).alias("skew"),
    )
    d_obs = Observation(f"merge-doc-{segment_id}")
    docstats_df = store.read_docstats(spark, victims).observe(
        d_obs, F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    errs: list[BaseException] = []

    def _write(df, dest: str, options: dict | None = None) -> None:
        try:
            w = df.write.mode("overwrite")
            for k, v in (options or {}).items():
                w = w.option(k, v)
            w.parquet(dest)
        except BaseException as e:  # surface on the caller thread
            errs.append(e)

    writers = [
        threading.Thread(
            target=_write,
            args=(
                merged.sortWithinPartitions("bucket", "term"),
                f"{seg_dir}/postings",
                TERM_BLOOM_OPTS,
            ),
        ),
        # doc stats: dedup union of the inputs' stats, minus purged docs
        # (read_docstats filters live deletes by default)
        threading.Thread(
            target=_write, args=(docstats_df, f"{seg_dir}/docstats")
        ),
    ]
    # doc store (doc_id, text): union-dedup carried through like
    # positions (all-or-nothing across victims)
    have_docs = [
        s for s in victims if os.path.isdir(os.path.join(store.seg_dir(s), "docs"))
    ]
    if have_docs:
        if len(have_docs) != len(victims):
            raise ValueError(
                f"cannot merge mixed doc-store coverage: "
                f"{sorted(set(victims) - set(have_docs))} lack a doc store"
            )
        writers.append(
            threading.Thread(
                target=_write,
                args=(
                    store.read_docs(spark, victims).sortWithinPartitions(
                        "bucket", "doc_id"
                    ),
                    f"{seg_dir}/docs",
                ),
            )
        )
    # positional artifact (operators.positions): carried through the
    # compaction when the victims have it (raises on MIXED coverage —
    # silently dropping positions would break phrase_match post-merge).
    # Runs on the caller thread, concurrent with the threaded writes.
    from inverted_index_spark.operators.positions import merge_positions

    try:
        for t in writers:
            t.start()
        try:
            merge_positions(spark, store, victims, segment_id)
        finally:
            # never leave writer threads racing the cleanup below
            for t in writers:
                t.join()
        if errs:
            raise errs[0]
        n_terms = (
            spark.read.parquet(f"{seg_dir}/postings")
            .agg(F.countDistinct("term").alias("n_terms"))
            .collect()[0]["n_terms"]
        )
    except BaseException as e:
        # nothing was committed: leave no half-written segment behind,
        # and keep every writer's error on the one that propagates
        shutil.rmtree(seg_dir, ignore_errors=True)
        for w in errs:
            if w is not e:
                e.add_note(f"merge writer thread failed: {type(w).__name__}: {w}")
        raise
    agg = dict(obs.get)
    agg["n_terms"] = n_terms
    dstats = d_obs.get
    try:
        store.commit_segment(
            segment_id,
            {
                "n_terms": int(agg["n_terms"] or 0),
                "n_postings": int(agg["n_postings"] or 0),
                "n_docs": int(dstats["n_docs"] or 0),
                "sum_dl": int(dstats["sum_dl"] or 0),
                "bytes": dir_bytes(seg_dir),
                "min_doc": int(agg["min_doc"] or 0),
                "max_doc": int(agg["max_doc"] or 0),
                "build_id": f"merge:{'+'.join(victims)}"[:512],
                "bucket_size": bucket_size,
                "skew_ratio": float(agg["skew"] or 1.0),
            },
            replaces=victims,
            # retire the delete batches this merge absorbed — applied
            # atomically with the swap, and only if no OTHER live
            # segment remains in the commit-time snapshot (see
            # commit_segment)
            retire_deletes=del_ids or None,
            # a delete batch committed AFTER the live_deletes() snapshot
            # above was not purged by this rewrite, and the merged
            # segment's higher generation would exempt it from the
            # batch's scope — resurrecting the deleted docs. The commit
            # must detect that and conflict (we then discard and the
            # caller re-merges against the fresh delete set).
            expect_deletes=del_ids,
        )
    except ErrMergeConflict:
        # lost a race: either a concurrent compactor consumed one of
        # our victims (the winner's merged segment covers those docs),
        # or a delete batch landed mid-merge (re-running the merge
        # picks it up). Discard the orphan output either way.
        shutil.rmtree(seg_dir, ignore_errors=True)
        return None
    return segment_id


def merge_until_one(
    spark: SparkSession,
    store: SegmentStore,
    min_files: int = 2,
    max_files: int = 8,
) -> list[str]:
    """Run passes until a single live segment remains; returns the
    merged ids in order (the reference's continuous merge loop,
    README.md:92-103)."""
    out = []
    while True:
        sid = merge_segments(spark, store, min_files, max_files)
        if sid is None:
            return out
        out.append(sid)
