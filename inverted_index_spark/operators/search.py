"""Searcher — the reference's OpenInvertedIndex analog (R1,
single/single.go:820-862): open once, query many.

The reference eagerly caches all term bitmaps at open; here we cache
(a) the live postings DataFrame (Spark .cache() → columnar in-memory
batches on executors), (b) corpus stats (N, avgdl), and (c) a
term→global-df map memo. A query is then 1-2 short Spark jobs over
cached data instead of re-resolving the manifest + rescanning parquet
— this is what query QPS is measured on in bench.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inverted_index_spark.functions.codec import (
    DEFAULT_BLOCK,
    decode_rows_concat,
    encode_postings,
)
from inverted_index_spark.operators import bm25 as _bm25
from inverted_index_spark.operators import wand as _wand
from inverted_index_spark.operators.query import _decode_rows
from inverted_index_spark.sources.store import SegmentStore

# batched-query maps above this many entries ship via broadcast instead
# of the task closure (a closure is re-serialized into EVERY task; a
# broadcast lands once per executor)
BROADCAST_QMAP_THRESHOLD = 512


def _maybe_broadcast(spark: SparkSession, payload):
    try:
        n = sum(len(v) if hasattr(v, "__len__") else 1 for v in payload)
    except TypeError:
        n = 0
    if n <= BROADCAST_QMAP_THRESHOLD:
        return None
    return spark.sparkContext.broadcast(payload)


def _one_task_topk(rows: DataFrame, query_map, avgdl: float, k: int) -> DataFrame:
    """Exact BM25 top-k for every query of a batch in ONE Python task
    over the matched posting rows → (qid, rank, doc_id, score).
    ``query_map()`` returns (qid → sorted live terms, term → idf) on
    the executor. Postings are decoded and scored once for the whole
    batch (:func:`wand._materialized_contributions`), then each query
    ranks its terms' slices (:func:`wand._topk_from_contributions`):
    the bucket plan's exhaustive kernel run over every bucket at once,
    so scores match it bit for bit (terms ascending, docs ascending,
    bincount). Single-segment stores only, where every (term, doc)
    posting is stored once."""

    def run(batches):
        qmap, idf_map = query_map()
        pdfs = list(batches)
        contribs = (
            _wand._materialized_contributions(pd.concat(pdfs), idf_map, avgdl)
            if pdfs
            else {}
        )
        ranked = [
            (qid, rank, d, sc)
            for qid, ts in qmap.items()
            for rank, (d, sc) in enumerate(
                _wand._topk_from_contributions(ts, contribs, k), 1
            )
        ]
        out = pd.DataFrame(ranked, columns=["qid", "rank", "doc_id", "score"])
        yield out.astype({"rank": "int32", "doc_id": "int64", "score": "float64"})

    return rows.coalesce(1).mapInPandas(
        run, schema="qid string, rank int, doc_id long, score double"
    )


def _purged_postings(spark: SparkSession, store: SegmentStore, raw: DataFrame) -> DataFrame:
    """Rewrite a postings scan with the store's live deletes physically
    removed (decode → mask → re-encode, per (bucket, term) row). Runs
    ONCE at Searcher.open — every cached-path kernel (topk, WAND,
    batch, read_values) then sees only surviving docs and exact
    surviving df, with zero per-query cost.

    Deletes are GENERATION-SCOPED (store.read_deletes): ``raw`` must
    carry the ``_sgen`` scan-class column (read_postings
    with_gen=True), and a tombstone only masks rows whose source
    segment predates it — a reindexed doc's new postings survive.

    Scale shape: the delete set ships as per-bucket sorted arrays via a
    co-partitioned equi-join on bucket (NOT a broadcast — a 100 TB
    corpus can carry billions of tombstones); rows in buckets with no
    deletes pass through without decoding."""
    from inverted_index_spark.sources.store import POSTINGS_SCHEMA

    bs = store.pinned_bucket_size()
    if bs is None:
        raise ValueError(
            "store has live deletes but no pinned bucket_size — "
            "cannot map delete doc_ids onto postings buckets"
        )
    if "_sgen" not in raw.columns:
        raise ValueError("_purged_postings needs a with_gen=True scan (_sgen)")
    dmap = (
        store.read_deletes(spark, with_gen=True)
        .select(F.expr(f"cast(doc_id div {int(bs)} as long)").alias("bucket"),
                "doc_id", "del_gen")
        .groupBy("bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "del_gen"))
            ).alias("dels_arr")
        )
    )
    joined = raw.join(dmap, "bucket", "left")
    cols = list(POSTINGS_SCHEMA.fieldNames())

    def run(batches):
        for pdf in batches:
            out = _purge_batch(pdf, cols)
            if len(out):
                yield out

    return joined.mapInPandas(run, schema=POSTINGS_SCHEMA)


def _purge_batch(pdf: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """:func:`_purged_postings`' kernel: one batch of posting rows, each
    joined with its bucket's tombstones (``dels_arr``, sorted by
    doc_id, null for a bucket without any) → the rows with every
    tombstoned posting removed. Rows no tombstone applies to pass
    through undecoded; the rest decode in one call."""
    # df = 0 rows are empty-postings term registrations
    cand = (pdf["dels_arr"].notna() & (pdf["df"] > 0)).to_numpy()
    keep = ~cand
    hit_pos, hit_dels = [], []
    rows = pdf[cand]
    for pos, dels_arr, sgen, lo_doc, hi_doc in zip(
        np.flatnonzero(cand), rows["dels_arr"], rows["_sgen"], rows["min_doc"],
        rows["max_doc"],
    ):
        dels = np.asarray([x["doc_id"] for x in dels_arr], np.int64)
        gens = np.asarray([x["del_gen"] for x in dels_arr], np.int64)
        # scope: only tombstones NEWER than this row's segment apply;
        # prune to the row's doc envelope
        a = int(np.searchsorted(dels, lo_doc, "left"))
        b = int(np.searchsorted(dels, hi_doc, "right"))
        sub = dels[a:b][gens[a:b] > np.int64(sgen)]
        if len(sub):
            hit_pos.append(pos)
            hit_dels.append(sub)
        else:
            keep[pos] = True
    hit = pdf.iloc[hit_pos]
    row_lens, docs, tfs, dls = decode_rows_concat(
        hit["postings"], hit["tfs"], hit["dls"], hit["blocks"]
    )
    bounds = np.concatenate(([0], np.cumsum(row_lens)))
    rewritten = []
    for j, sub in enumerate(hit_dels):
        row = slice(bounds[j], bounds[j + 1])
        alive = ~np.isin(docs[row], sub)
        if alive.all():
            keep[hit_pos[j]] = True
        elif alive.any():  # else every doc is deleted: drop the term row
            d2 = docs[row][alive]
            p2, t2, l2, blocks2 = encode_postings(
                d2, tfs[row][alive], dls[row][alive], block_size=DEFAULT_BLOCK
            )
            rewritten.append({
                "bucket": hit["bucket"].iloc[j],
                "term": hit["term"].iloc[j],
                "df": len(d2),
                "postings": p2,
                "tfs": t2,
                "dls": l2,
                "blocks": blocks2,
                "min_doc": int(d2[0]),
                "max_doc": int(d2[-1]),
            })
    out = pdf[keep][cols]
    if rewritten:
        out = pd.concat([out, pd.DataFrame(rewritten, columns=cols)], ignore_index=True)
    return out


def _read_values_batch_rows(
    pdf: pd.DataFrame, qmap: dict, term_qids: dict, g_lo, g_hi
) -> pd.DataFrame:
    """:meth:`Searcher.read_values_batch`' kernel: one batch of matched
    rows → (qid, doc_id) for every query naming the row's term. One
    decode scoped to the batch's widest range, then per-query range
    slicing by binary search on each row's sorted doc ids."""
    pdf = pdf[pdf["term"].isin(list(term_qids))]
    row_lens, docs, _, _ = decode_rows_concat(
        pdf["postings"], pdf["tfs"], pdf["dls"], pdf["blocks"], g_lo, g_hi
    )
    bounds = np.concatenate(([0], np.cumsum(row_lens)))
    out_qid, out_doc = [], []
    for i, term in enumerate(pdf["term"]):
        d = docs[bounds[i] : bounds[i + 1]]
        if not len(d):
            continue
        for qid in term_qids[term]:
            _, lo, hi = qmap[qid]
            a = 0 if lo is None else int(np.searchsorted(d, lo, "left"))
            b = len(d) if hi is None else int(np.searchsorted(d, hi, "right"))
            if a < b:
                out_qid.append(np.repeat(qid, b - a))
                out_doc.append(d[a:b])
    if not out_qid:
        return pd.DataFrame(columns=["qid", "doc_id"])
    return pd.DataFrame(
        {"qid": np.concatenate(out_qid), "doc_id": np.concatenate(out_doc)}
    )


class Searcher:
    def __init__(self, spark: SparkSession, store: SegmentStore):
        self.spark = spark
        self.store = store
        self._postings: DataFrame | None = None
        self._dfs: DataFrame | None = None
        self._stats: tuple[int, float] | None = None
        self._df_memo: dict[str, int] = {}
        self._df_complete = False
        self._single_segment = len(store.live_segments()) <= 1
        self._field_subs: dict[tuple[str, str], "Searcher"] = {}

    # ------------------------------------------------------------- open ---
    def open(self, preload_dfs_max_terms: int = 100_000) -> "Searcher":
        # cache pre-partitioned BY BUCKET: every per-query
        # groupBy("bucket").applyInPandas then satisfies its clustered
        # distribution straight off the cache and Catalyst elides the
        # per-query exchange — a WAND/topk query becomes ONE stage over
        # cached columnar batches plus a TakeOrdered merge (one-time
        # shuffle here instead of one per query)
        if self.store.has_deletes():
            # physically purge live deletes into the cache ONCE —
            # every kernel (WAND, exhaustive, batch, read_values) then
            # scores only surviving docs with exact surviving df, and
            # per-query paths pay nothing for delete support. The scan
            # carries _sgen so the purge is generation-scoped (a
            # reindexed doc's new postings survive its tombstone).
            raw = _purged_postings(
                self.spark, self.store,
                self.store.read_postings(self.spark, with_gen=True),
            )
        else:
            raw = self.store.read_postings(self.spark)
        self._postings = raw.repartition("bucket").cache()
        self._postings.count()  # materialize
        self._stats = _bm25.corpus_stats(self.spark, self.store)
        # preload the whole term→df dictionary when it fits (the
        # reference eagerly caches all bitmaps at open the same way,
        # single/single.go:742-788) → df lookups cost zero Spark jobs.
        # HARD-BOUNDED on every path (round-3): the manifest's n_terms
        # is an approx_count_distinct estimate, so the collect itself
        # carries a .limit(cap + 1) — the driver can never pull an
        # unbounded-by-data row count no matter what the estimate says.
        n_terms = int(self.store.live_segments()["n_terms"].sum() or 0)
        cap = preload_dfs_max_terms
        if self._single_segment and 0 < n_terms <= int(cap * 1.05):
            rows = (
                self._postings.groupBy("term")
                .agg(F.sum("df").alias("df"))
                .limit(cap + 1)
                .collect()
            )
            if len(rows) <= cap:
                self._df_memo.update({r["term"]: int(r["df"]) for r in rows})
                self._df_complete = True
        return self

    def field_searcher(self, name: str, store: SegmentStore) -> "Searcher":
        """Warm per-field sub-searcher (round-5): Field clauses in
        boolean.evaluate ride a cached sub-Searcher instead of a fresh
        store scan per query — the same open-once query-many shape the
        default store gets. Keyed by (name, root) so a refreshed
        field_stores map re-opens; closed with the parent."""
        key = (name, store.root)
        if key not in self._field_subs:
            self._field_subs[key] = Searcher(self.spark, store).open()
        return self._field_subs[key]

    def close(self) -> None:
        if self._postings is not None:
            self._postings.unpersist()
            self._postings = None
        if self._dfs is not None:
            self._dfs.unpersist()
            self._dfs = None
        if getattr(self, "_positions", None) is not None:
            self._positions.unpersist()
            self._positions = None
        for sub in self._field_subs.values():
            sub.close()
        self._field_subs.clear()

    def refresh(self) -> "Searcher":
        """Re-open against the CURRENT manifest snapshot. A Searcher
        holds the segment set it opened with; after a compaction the
        old segments survive only through cleanup's grace window, and a
        cache eviction would try to re-read deleted files. Long-lived
        searchers should refresh() after compaction (or size the grace
        window above their lifetime)."""
        self.close()
        self._stats = None
        self._df_memo.clear()
        self._df_complete = False
        self._n_postings_memo = None
        self._single_segment = len(self.store.live_segments()) <= 1
        return self.open()

    @property
    def postings(self) -> DataFrame:
        if self._postings is None:
            self.open()
        return self._postings

    # ---------------------------------------------------------- doc store ---
    def fetch_text(self, results: DataFrame, max_pruned_buckets: int = 10_000) -> DataFrame:
        """Hydrate a (doc_id, ...) result DataFrame with the stored turn
        text (build_index(store_text=True)); per-turn text is preserved
        byte-for-byte (input_hint equality invariant).

        Scale shape: the doc store is NEVER cached or scanned whole — a
        result page touches few doc-buckets, so the page's distinct
        buckets (a bounded collect: pages are top-k-sized) become a
        ``bucket IN (...)`` predicate pushed into the doc-store scan,
        and the row-group stats skip everything else. Pages touching
        more than ``max_pruned_buckets`` buckets fall back to a plain
        join (at that size the scan is no longer sparse anyway).

        Pre-versioned manifests don't record bucket_size — computing
        page buckets with a guessed width would produce bucket keys
        that match NO stored rows, so the pushed IN-filter would
        silently hydrate every result with null text. Those stores take
        the plain-join path (no bucket pruning) instead."""
        bs = self.store.pinned_bucket_size()
        if bs is None:
            docs = self.store.read_docs(self.spark)
            return results.join(docs.select("doc_id", "text"), "doc_id", "left")
        page_buckets = (
            results.select(
                F.expr(f"cast(doc_id div {int(bs)} as long)").alias("b")
            )
            .distinct()
            .limit(max_pruned_buckets + 1)
            .collect()
        )
        buckets = (
            [int(r["b"]) for r in page_buckets]
            if len(page_buckets) <= max_pruned_buckets
            else None
        )
        docs = self.store.read_docs(self.spark, buckets=buckets)
        return results.join(docs.select("doc_id", "text"), "doc_id", "left")

    # ------------------------------------------------------------ phrase ---
    def phrase(
        self,
        phrase: list[str],
        min_doc: int | None = None,
        max_doc: int | None = None,
        slop: int = 0,
    ) -> DataFrame:
        """phrase_match over a LAZILY cached positions scan — open-once
        query-many for phrase workloads, mirroring the postings cache
        (the artifact is only read/cached on the first phrase query, so
        non-phrase searchers pay nothing)."""
        from inverted_index_spark.operators.positions import (
            phrase_match_rows,
            read_positions,
        )

        if getattr(self, "_positions", None) is None:
            # with_gen when deletes are live: the cached rows carry
            # _sgen so phrase_match_rows applies the scoped filter on
            # decoded occurrences (pre-kernel)
            self._positions = read_positions(
                self.spark, self.store, with_gen=self.store.has_deletes()
            ).cache()
            self._positions.count()
        return phrase_match_rows(
            self.spark, self._positions, phrase, min_doc, max_doc, slop,
            store=self.store,
        )

    # ------------------------------------------------------------ boolean ---
    def search(
        self,
        q,
        min_doc: int | None = None,
        max_doc: int | None = None,
        field_stores=None,
    ):
        """Boolean search over the CACHED postings/positions — the
        open-once query-many surface for the algebra and the string
        grammar (operators.boolean). Term/Phrase leaves read the warm
        caches; Prefix/Fuzzy leaves fall back to store scans (their
        dictionary predicates prune at the parquet scan, which the
        bucket-partitioned cache layout does not help with)."""
        from inverted_index_spark.operators import boolean as _b

        if isinstance(q, str):
            q = _b.parse_query(q)
        return _b.evaluate(
            self.spark, self.store, q, min_doc, max_doc,
            searcher=self, field_stores=field_stores,
        )

    @property
    def stats(self) -> tuple[int, float]:
        if self._stats is None:
            self._stats = _bm25.corpus_stats(self.spark, self.store)
        return self._stats

    # ------------------------------------------------------------ reads ---
    def _matching(self, terms: list[str], min_doc=None, max_doc=None) -> DataFrame:
        from inverted_index_spark.operators.query import term_in_pred

        out = self.postings.where(term_in_pred("term", list(terms)))
        if min_doc is not None:
            out = out.where(F.col("max_doc") >= F.lit(int(min_doc)))
        if max_doc is not None:
            out = out.where(F.col("min_doc") <= F.lit(int(max_doc)))
        return out

    def _df_table(self) -> DataFrame:
        """Cached (term, df) dictionary for multi-segment stores —
        computed ONCE from the cached postings (decode + cross-segment
        countDistinct, proportionate to what open() already cached),
        then every term_dfs batch is a filter over cached columnar
        batches instead of a fresh per-query decode (round-4; the
        reference's eager bitmap cache has the same open-once shape)."""
        if self._dfs is None:
            decoded = self.postings.mapInPandas(
                lambda it: _decode_rows(it, None, None, False),
                schema="term string, doc_id long",
            )
            self._dfs = (
                decoded.groupBy("term")
                .agg(F.countDistinct("doc_id").alias("df"))
                .cache()
            )
            self._dfs.count()
        return self._dfs

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        if self._df_complete:
            return {
                t: self._df_memo[t]
                for t in set(terms)
                if self._df_memo.get(t, 0) > 0
            }
        missing = [t for t in set(terms) if t not in self._df_memo]
        if missing:
            if self._single_segment:
                rows = (
                    self._matching(missing)
                    .groupBy("term")
                    .agg(F.sum("df").alias("df"))
                    .collect()
                )
            else:
                rows = (
                    self._df_table()
                    .where(F.col("term").isin(missing))
                    .collect()
                )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_memo[t] = found.get(t, 0)
        return {t: self._df_memo[t] for t in set(terms) if self._df_memo[t] > 0}

    # latency gate bounds (see _one_task); SMALL_READ_CAP postings are
    # ≤ ~16 MB of raw doc_ids
    SMALL_READ_CAP = 2_000_000
    SINGLE_TASK_SCAN_CAP = 20_000_000

    def _one_task(self, bound: int) -> bool:
        """The latency gate of read_values, topk and topk_batch: True
        when ``bound`` (Σdf of the call's terms, free driver-side from
        the complete df dictionary of a single-segment open) is small
        enough to run the call as ONE Python task over the cache. Each
        Python task pays a fixed start-up cost of a few hundred ms
        (README.md), so fewer tasks is the lever. The scan cap keeps a
        coalesce(1) scan, which serializes the WHOLE cache through one
        executor, off large stores (the 100 TB shape)."""
        return (
            self._df_complete
            and bound <= self.SMALL_READ_CAP
            and self._n_postings() <= self.SINGLE_TASK_SCAN_CAP
        )

    def read_values(self, terms: list[str], min_doc=None, max_doc=None) -> DataFrame:
        if not terms:
            return self.spark.range(0).select(F.col("id").alias("doc_id"))
        rows = self._matching(terms, min_doc, max_doc)
        # Latency gate: one scan of the cached postings, decode,
        # np.unique — no distinct exchange, no orderBy range-sampling
        # job. Measured on the 120k-turn bench store: 0.60 s/read →
        # 0.31 s/read.
        if self._one_task(sum(self._df_memo.get(t, 0) for t in set(terms))):

            def _unique_docs(batches):
                chunks = [
                    pdf["doc_id"].to_numpy(np.int64)
                    for pdf in _decode_rows(batches, min_doc, max_doc, False)
                ]
                vals = (
                    np.unique(np.concatenate(chunks))
                    if chunks
                    else np.zeros(0, dtype=np.int64)
                )
                yield pd.DataFrame({"doc_id": vals})

            return rows.coalesce(1).mapInPandas(_unique_docs, schema="doc_id long")
        decoded = rows.mapInPandas(
            lambda it: _decode_rows(it, min_doc, max_doc, False),
            schema="term string, doc_id long",
        )
        return decoded.select("doc_id").distinct().orderBy("doc_id")

    def _n_postings(self) -> int:
        """Total live postings from the manifest (cached at first use):
        the driver-side proxy for how big a single-task cache scan
        would be."""
        if getattr(self, "_n_postings_memo", None) is None:
            self._n_postings_memo = int(
                self.store.live_segments()["n_postings"].sum() or 0
            )
        return self._n_postings_memo

    def read_values_batch(
        self, queries: dict[str, tuple[list[str], int | None, int | None]]
    ) -> DataFrame:
        """MANY R10 reads in ONE Spark job: qid → (terms, min_doc,
        max_doc) → rows (qid, doc_id), sorted unique per qid. Same
        amortization shape as :meth:`topk_batch` — one pass over the
        union of matched postings, each block decoded at most once for
        the whole batch, per-query range slicing via binary search."""
        qmap = {
            qid: (sorted(set(ts)), lo, hi) for qid, (ts, lo, hi) in queries.items() if ts
        }
        if not qmap:
            return self.spark.createDataFrame([], "qid string, doc_id long")
        all_terms = sorted({t for ts, _, _ in qmap.values() for t in ts})
        lo_all = [lo for _, lo, _ in qmap.values()]
        hi_all = [hi for _, _, hi in qmap.values()]
        g_lo = None if any(x is None for x in lo_all) else min(lo_all)
        g_hi = None if any(x is None for x in hi_all) else max(hi_all)
        rows = self._matching(all_terms, g_lo, g_hi)
        term_qids: dict[str, list[str]] = {}
        for qid, (ts, _, _) in qmap.items():
            for t in ts:
                term_qids.setdefault(t, []).append(qid)

        # large batches ride a broadcast, not the task closure: a 100k-
        # query map serialized into EVERY task would dominate task
        # launch; a broadcast ships once per executor. `payload` is
        # None'd when broadcasting so the closure doesn't ALSO pickle
        # the raw dicts.
        payload = (qmap, term_qids)
        bc = _maybe_broadcast(self.spark, payload)
        if bc is not None:
            payload = None

        def run(batches):
            _qmap, _term_qids = bc.value if bc is not None else payload
            for pdf in batches:
                out = _read_values_batch_rows(pdf, _qmap, _term_qids, g_lo, g_hi)
                if len(out):
                    yield out

        decoded = rows.mapInPandas(run, schema="qid string, doc_id long")
        return decoded.distinct().orderBy("qid", "doc_id")

    # ------------------------------------------------------------ BM25 ---
    def topk_batch(
        self, queries: dict[str, list[str]], k: int = 10, use_wand: bool = False
    ) -> DataFrame:
        """Run MANY BM25 top-k queries in ONE Spark job: (qid, rank,
        doc_id, score), ≤ k rows per query by score desc, doc_id asc.

        Two exact plans with identical rows and scores, chosen by the
        latency gate (:meth:`_one_task`) on Σ over queries of Σdf of
        each query's live terms:

        - **single task** (gate on): one coalesce(1) Python task over
          the cached matched rows scores every posting once and emits
          the final ranked rows — no bucket stage, no qid Window
          exchange. At this size the Python task count, not scoring,
          sets the op's time.
        - **bucket plan** (larger batches, multi-segment stores): the
          matched postings grouped by bucket; each bucket decodes every
          block AT MOST ONCE for the whole batch, emits ≤ k rows per
          query, and a Window over qid ranks them.

        ``use_wand`` picks the bucket plan's scorer; the single task is
        always exhaustive. The default is the vectorized exhaustive
        kernel: with blocks decoded once per batch, WAND's per-span
        Python bookkeeping costs more than its pruning saves, measured
        2x at 2M turns (27 → 56 QPS at 32 cores, 300-query batch).
        """
        from pyspark.sql import Window

        n_docs, avgdl = self.stats
        all_terms = sorted({t for ts in queries.values() for t in ts})
        dfs = self.term_dfs(all_terms)
        idf_map = {t: _bm25.idf(n_docs, dfs[t]) for t in all_terms if t in dfs}
        qmap = {
            qid: [t for t in sorted(set(ts)) if t in idf_map]
            for qid, ts in queries.items()
        }
        qmap = {qid: ts for qid, ts in qmap.items() if ts}
        if not qmap or n_docs == 0:
            return self.spark.createDataFrame(
                [], "qid string, rank int, doc_id long, score double"
            )
        live_terms = sorted({t for ts in qmap.values() for t in ts})
        rows = self._matching(live_terms)
        # large batches ride a broadcast, not the task closure (one
        # copy per executor instead of per task); payload None'd when
        # broadcasting so the closure doesn't also pickle the dicts
        payload = (qmap, idf_map)
        bc = _maybe_broadcast(self.spark, payload)
        if bc is not None:
            payload = None

        def query_map():
            return bc.value if bc is not None else payload

        if self._one_task(sum(dfs[t] for ts in qmap.values() for t in ts)):
            return _one_task_topk(rows, query_map, avgdl, k)

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            _qmap, _idf_map = query_map()
            qids, docs, scores = [], [], []
            if use_wand:
                handles = {
                    t: _wand._term_handles(grp)
                    for t, grp in pdf.groupby("term", sort=True)
                }
                for qid, ts in _qmap.items():
                    sub = {t: handles[t] for t in ts if t in handles}
                    if not sub:
                        continue
                    for d, s in _wand._wand_from_handles(sub, _idf_map, avgdl, k):
                        qids.append(qid)
                        docs.append(d)
                        scores.append(s)
            else:
                # per-posting contributions are query-independent —
                # decode + score ONCE per bucket (round-6; was half the
                # kernel profile via per-query handle work), then each
                # query is a concat + unique + bincount over its terms'
                # slices. Identical accumulation order to the handle
                # path (see _materialized_contributions).
                contribs = _wand._materialized_contributions(
                    pdf, _idf_map, avgdl
                )
                for qid, ts in _qmap.items():
                    for d, s in _wand._topk_from_contributions(ts, contribs, k):
                        qids.append(qid)
                        docs.append(d)
                        scores.append(s)
            return pd.DataFrame(
                {
                    "qid": pd.Series(qids, dtype="object"),
                    "doc_id": pd.Series(docs, dtype="int64"),
                    "score": pd.Series(scores, dtype="float64"),
                }
            )

        local = rows.groupBy("bucket").applyInPandas(
            run, schema="qid string, doc_id long, score double"
        )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            local.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "rank", "doc_id", "score")
        )

    def topk(self, terms: list[str], k: int = 10, use_wand: bool = True) -> DataFrame:
        uniq = sorted(set(terms))
        n_docs, avgdl = self.stats
        dfs = self.term_dfs(uniq)
        idf_map = {t: _bm25.idf(n_docs, dfs[t]) for t in uniq if t in dfs}
        if not idf_map or n_docs == 0:
            return self.spark.range(0).select(
                F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
            )
        rows = self._matching(list(idf_map))
        # Latency gate: the one-query call of topk_batch's single-task
        # kernel — no bucket exchange, no TakeOrdered merge. It is
        # exact, so it answers either use_wand setting with identical
        # rows; its one partition already holds them in rank order.
        if self._one_task(sum(dfs[t] for t in idf_map)):
            qmap = {"": list(idf_map)}
            return _one_task_topk(
                rows, lambda: (qmap, idf_map), avgdl, k
            ).select("doc_id", "score")
        if use_wand:

            def run(pdf: pd.DataFrame) -> pd.DataFrame:
                return _wand._wand_bucket(pdf, idf_map, avgdl, k)

            local = rows.groupBy("bucket").applyInPandas(
                run, schema="doc_id long, score double"
            )
            return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        def score(pdf: pd.DataFrame) -> pd.DataFrame:
            contribs = _wand._materialized_contributions(pdf, idf_map, avgdl)
            ts = sorted(contribs)
            d = np.concatenate([np.zeros(0, np.int64)] + [contribs[t][0] for t in ts])
            c = np.concatenate([np.zeros(0)] + [contribs[t][1] for t in ts])
            uniq, inv = np.unique(d, return_inverse=True)
            sums = np.bincount(inv, weights=c, minlength=len(uniq))
            return pd.DataFrame({"doc_id": uniq, "score": sums})

        if self._single_segment:
            # MAP-SIDE PARTIAL AGGREGATION: scores are computed and
            # pre-summed per doc inside the Arrow batch, so only
            # ≤(distinct docs per batch) small rows hit the shuffle —
            # never the exploded postings. Buckets are disjoint doc
            # ranges, so partial sums per doc are always combinable.
            partial = (
                rows.mapInPandas(
                    lambda it: map(score, it), schema="doc_id long, score double"
                )
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))
            )
        else:
            # pre-compaction overlap: one (term, doc) posting may sit in
            # several segments' rows. Grouping by bucket hands them all
            # to one kernel call, whose keep-first merge (the one WAND
            # applies) counts it once; each doc's score is then final.
            partial = rows.groupBy("bucket").applyInPandas(
                score, schema="doc_id long, score double"
            )
        return partial.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
