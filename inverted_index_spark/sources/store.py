"""SegmentStore — the reference's IndexDirectory re-expressed for Spark.

The reference manages a directory of immutable index files with an
in-memory size-sorted file list, per-file reader locks, and
smallest-first compaction (/root/reference/multiple/multiple_index.go).
Here a *segment* is an immutable parquet dataset plus a row in a
generation-numbered manifest:

    root/
      segments/<segment_id>/postings/   (parquet, partitioned by bucket)
      segments/<segment_id>/docstats/   (parquet: doc_id, dl)
      manifest/gen-<n>.parquet          (full manifest snapshot)
      manifest/CURRENT                  (atomic pointer, os.replace)

Commit = write gen-(n+1) then atomically swap CURRENT — the
parquet-only stand-in for an Iceberg snapshot commit (no Iceberg jars
in this sandbox; the interface is the thing). Every manifest read
resolves the newest gen file with one ``listdir`` → snapshot isolation
replaces the reference's RWMutex/TryLock dance
(multiple/files_list.go:9-16).

Reads plan from a warm snapshot, as the reference's opened index does
(``OpenInvertedIndex`` caches at open), through three process-wide memos:

- a gen file is parsed once: :func:`_read_gen_file` keys the parsed
  frame on the file's identity (path, inode, size, mtime), so a root
  that is removed and rebuilt reads its new manifest, and an expired
  generation still raises ``FileNotFoundError``;
- a delete batch is read once: :func:`_delete_batch` keys its doc ids
  on the directory's identity (path, inode, mtime), and
  :meth:`SegmentStore.live_tombstones` the merged, sorted live delete
  set on its batches' identities;
- a parquet path set is listed once per SparkContext:
  :func:`read_parquet` keeps the ``spark.read.parquet`` DataFrame
  (file listing + schema). Committed segment and delete directories
  are never rewritten and segment ids are never reused — build, merge
  and delete batches write only into fresh directories before they
  commit — so a held listing stays exact.

Manifest columns carry the north rule's lineage + metrics:
(build_id, chunk, input_fingerprint, terms_per_sec, skew_ratio, ...).
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOCK_STRUCT = T.StructType(
    [
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("max_tf", T.IntegerType()),
        T.StructField("min_dl", T.IntegerType()),
        T.StructField("p_off", T.IntegerType()),
        T.StructField("t_off", T.IntegerType()),
        T.StructField("d_off", T.IntegerType()),
    ]
)

POSTINGS_SCHEMA = T.StructType(
    [
        # bucket = doc_id div bucket_size — long end-to-end (an int32
        # bucket wraps past ~2^31 buckets at 10^12+ doc ids)
        T.StructField("bucket", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("postings", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("dls", T.BinaryType()),
        T.StructField("blocks", T.ArrayType(BLOCK_STRUCT)),
        T.StructField("min_doc", T.LongType()),
        T.StructField("max_doc", T.LongType()),
    ]
)

MANIFEST_COLS = [
    "segment_id", "path", "generation_added", "status",
    "n_terms", "n_postings", "n_docs", "sum_dl", "bytes",
    "min_doc", "max_doc",
    "build_id", "chunk", "input_fingerprint",
    "terms_per_sec", "skew_ratio", "created_ts", "tombstone_ts",
    "bucket_size",
]

LIVE, MERGED = "live", "merged"
# doc-level delete batches ("right to be forgotten" over immutable
# segments — an extension beyond the reference, which has no deletes).
# A delete batch is a parquet file of doc_ids committed as a manifest
# row with this status; readers subtract live delete sets, compaction
# physically purges them and retires fully-absorbed batches.
DELETES = "deletes"


# the warm-snapshot memos (module docstring): small LRUs, one lock for
# both. They are process-wide because stores are plain values that
# callers create freely (SegmentStore(root), at(), federated members);
# the keys make sharing safe.
_MEMO_LOCK = threading.Lock()
_MANIFESTS: OrderedDict = OrderedDict()  # gen-file identity → parsed frame
_SCANS: OrderedDict = OrderedDict()  # (application id, paths) → DataFrame
_TOMBS: OrderedDict = OrderedDict()  # batch dir identities → doc ids / live set
_MEMO_SIZE = 64


def _memo_get(memo: OrderedDict, key):
    with _MEMO_LOCK:
        hit = memo.get(key)
        if hit is not None:
            memo.move_to_end(key)
        return hit


def _memo_put(memo: OrderedDict, key, value) -> None:
    with _MEMO_LOCK:
        memo[key] = value
        if len(memo) > _MEMO_SIZE:
            memo.popitem(last=False)


def _read_gen_file(path: str) -> pd.DataFrame:
    """A copy of the manifest snapshot in gen file ``path``, parsed at
    most once per file identity. The identity is taken from the open
    file (fstat), so the frame always matches the bytes it was read
    from. Raises FileNotFoundError for a missing (expired) file."""
    with open(path, "rb") as f:
        st = os.fstat(f.fileno())
        key = (path, st.st_ino, st.st_size, st.st_mtime_ns)
        m = _memo_get(_MANIFESTS, key)
        if m is None:
            m = pd.read_parquet(f).reindex(columns=MANIFEST_COLS)
            _memo_put(_MANIFESTS, key, m)
    return m.copy()


def _delete_batch(path: str) -> tuple[tuple, np.ndarray]:
    """A committed delete batch's (directory identity, doc ids); its
    parquet is read once per identity (module docstring)."""
    st = os.stat(path)
    key = (path, st.st_ino, st.st_mtime_ns)
    ids = _memo_get(_TOMBS, key)
    if ids is None:
        ids = pd.read_parquet(path, columns=["doc_id"])["doc_id"].to_numpy(np.int64)
        _memo_put(_TOMBS, key, ids)
    return key, ids


def read_parquet(spark: SparkSession, paths: list[str]) -> DataFrame:
    """``spark.read.parquet(*paths)``, listed once per SparkContext and
    path set (module docstring) — only for committed, immutable
    segment and delete directories."""
    key = (spark.sparkContext.applicationId, tuple(paths))
    df = _memo_get(_SCANS, key)
    if df is None:
        df = spark.read.parquet(*paths)
        _memo_put(_SCANS, key, df)
    return df


# a lost manifest race sleeps U(0, min(cap, base * 2^losses)) seconds
# before it retries, so contending committers spread out instead of
# re-reading and re-writing the manifest in lockstep
_BACKOFF_BASE_S = 0.01
_BACKOFF_CAP_S = 1.0


# the tombstones of a store without live deletes, in the shape kernels
# receive
NO_TOMBS = pd.DataFrame(
    {"doc_id": np.zeros(0, np.int64), "del_gen": np.zeros(0, np.int64)}
)


def tombstoned(
    pdf: pd.DataFrame, row_lens: np.ndarray, docs: np.ndarray, tomb: pd.DataFrame
) -> np.ndarray | None:
    """The generation-scoped delete mask over ids decoded from
    ``pdf``'s rows (``row_lens[i]`` of ``docs`` came from row ``i``):
    True where a live tombstone NEWER than the row's source segment
    (its ``_sgen``) names the doc. ``tomb`` is the store's
    ``(doc_id, del_gen)`` rows (SegmentStore.live_tombstones), sorted
    by doc_id ascending then del_gen descending: the left
    ``searchsorted`` lands on the doc's highest batch generation, and
    "some batch newer than the segment names d" ⇔ "max batch gen over
    d > segment gen". None when nothing is masked."""
    if not len(tomb) or not len(docs):
        return None
    td = tomb["doc_id"].to_numpy(np.int64)
    tg = tomb["del_gen"].to_numpy(np.int64)
    at = np.minimum(np.searchsorted(td, docs), len(td) - 1)
    sgen = np.repeat(pdf["_sgen"].to_numpy(np.int64), row_lens)
    dead = (td[at] == docs) & (tg[at] > sgen)
    return dead if dead.any() else None


def _tomb_frame(batches: list[tuple[np.ndarray, int]]) -> pd.DataFrame:
    """``(doc ids, batch generation)`` per delete batch → the
    ``(doc_id, del_gen)`` frame :func:`tombstoned` reads: doc_id
    ascending, then del_gen descending."""
    doc_id = np.concatenate([ids for ids, _ in batches])
    del_gen = np.repeat(
        np.array([g for _, g in batches], np.int64), [len(ids) for ids, _ in batches]
    )
    order = np.lexsort((-del_gen, doc_id))
    return pd.DataFrame({"doc_id": doc_id[order], "del_gen": del_gen[order]})


BROADCAST_QMAP_THRESHOLD = 512


def worker_payload(spark: SparkSession, payload: tuple):
    """A zero-argument getter of ``payload`` for Python-worker code. Up
    to :data:`BROADCAST_QMAP_THRESHOLD` entries (summed lengths of its
    items: queries of a batch, live tombstones) it rides the task
    closure; above, a broadcast — a closure is re-serialized into EVERY
    task, a broadcast lands once per executor. The broadcast getter
    holds only the handle, so the closure does not also pickle the
    payload."""
    try:
        n = sum(len(v) if hasattr(v, "__len__") else 1 for v in payload)
    except TypeError:
        n = 0
    if n <= BROADCAST_QMAP_THRESHOLD:
        return lambda: payload
    bc = spark.sparkContext.broadcast(payload)
    return lambda: bc.value


def apply_buckets(
    spark: SparkSession,
    store: "SegmentStore",
    rows: DataFrame,
    kernel,
    schema,
    rowwise: bool = False,
) -> DataFrame:
    """Run ``kernel(pdf, tomb)`` over stored rows carrying a ``bucket``
    column — the one place tombstones reach the read and rewrite paths:
    ``groupBy("bucket").applyInPandas``, or — ``rowwise``, for kernels
    that need no whole bucket (row decoders) — ``mapInPandas`` over
    scan batches, empty outputs dropped.

    ``tomb``, masked by every kernel right after decoding
    (:func:`tombstoned`), is the store's whole live delete set from the
    driver's warm snapshot (SegmentStore.live_tombstones) for rows of a
    scan with live deletes (they carry ``_sgen``), else
    :data:`NO_TOMBS`. It rides the task closure, or a broadcast above
    :data:`BROADCAST_QMAP_THRESHOLD` rows: no job and no exchange. Each
    Python worker holds 16 B per live tombstone (1M deletes ≈ 16 MB);
    merges retire the batches they absorb."""
    live = store.live_tombstones() if "_sgen" in rows.columns else NO_TOMBS
    tombs = worker_payload(spark, (live,))
    if rowwise:

        def run(batches):
            (t,) = tombs()
            for pdf in batches:
                out = kernel(pdf, t)
                if len(out):
                    yield out

        return rows.mapInPandas(run, schema=schema)
    return rows.groupBy("bucket").applyInPandas(
        lambda pdf: kernel(pdf, tombs()[0]), schema=schema
    )


def doc_order(df: DataFrame) -> DataFrame:
    """``df`` sorted by doc_id in one partition. Not ``orderBy``: its
    range exchange first samples its input, and that sampling job
    re-runs the Python kernel feeding it. Not ``coalesce(1)``, which
    would make the kernel stage itself one task."""
    return df.repartition(1).sortWithinPartitions("doc_id")


def _live_doc_rows(pdf: pd.DataFrame, tomb: pd.DataFrame) -> pd.DataFrame:
    """Doc-level rows (one doc each) minus the tombstoned ones."""
    dead = tombstoned(
        pdf, np.ones(len(pdf), np.int64), pdf["doc_id"].to_numpy(np.int64), tomb
    )
    out = pdf if dead is None else pdf[~dead]
    return out.drop(columns="_sgen")


class ErrMergeConflict(RuntimeError):
    """A compaction commit found one of its victims already tombstoned
    by a racing committer. Committing anyway would leave TWO live
    segments covering the same docs (double-counted df/tf → wrong BM25)
    — the analog of the reference's `merging` set, which prevents two
    mergers from picking the same file (multiple/multiple_index.go:94-129).
    The losing merger must abort and discard its output."""


@dataclass
class SegmentStore:
    root: str
    # a read-only snapshot pin (see at()): manifest reads resolve this
    # exact generation instead of the current max, and every mutation
    # is refused — Iceberg time travel over the gen-N.parquet commit
    # log this store already keeps (expire_generations bounds the
    # horizon, like expire_snapshots)
    pin_generation: int | None = None

    def __post_init__(self) -> None:
        # M1 parity (multiple/multiple_index.go:448,466-487): opening an
        # EXISTING index directory validates it's a READABLE directory
        # up front, so misconfiguration fails with a clear error instead
        # of a mid-job task failure. A missing root is fine — builds
        # create it. Writability is checked lazily on the first WRITE
        # (_require_writable), not here: read-only mounts and protected
        # snapshots must stay searchable/inspectable, and at() pinned
        # views are read-only by contract.
        if not os.path.exists(self.root):
            return
        if not os.path.isdir(self.root):
            raise NotADirectoryError(
                f"index path is not a directory: {self.root}"
            )
        # mode-bit check like the reference (os.access is useless under
        # uid 0 — root passes every access() check regardless of mode)
        if not os.stat(self.root).st_mode & 0o444:
            raise PermissionError(f"index directory is not readable: {self.root}")

    def _require_writable(self) -> None:
        """Clear up-front error for commits into a write-protected
        store (read-only mount / chmod-protected snapshot). Mode-bit
        heuristic like the open-time read check — a best-effort guard,
        not an ACL oracle; the filesystem still has the final word."""
        if os.path.isdir(self.root) and not os.stat(self.root).st_mode & 0o222:
            raise PermissionError(
                f"index directory is not writable: {self.root}"
            )

    # ------------------------------------------------------------ layout
    def seg_dir(self, segment_id: str) -> str:
        return os.path.join(self.root, "segments", segment_id)

    def _manifest_dir(self) -> str:
        return os.path.join(self.root, "manifest")

    def _current_path(self) -> str:
        return os.path.join(self._manifest_dir(), "CURRENT")

    # ---------------------------------------------------------- manifest
    def current_generation(self) -> int:
        """Highest committed generation = max gen-<n>.parquet present.

        Gen files only become visible via an atomic os.link of a fully
        written temp file, so the max is always a complete, consistent
        snapshot — the directory scan IS the commit log (the parquet
        stand-in for Iceberg's metadata version listing)."""
        try:
            names = os.listdir(self._manifest_dir())
        except FileNotFoundError:
            return 0
        gens = [
            int(n[4:-8])
            for n in names
            if n.startswith("gen-") and n.endswith(".parquet")
        ]
        return max(gens, default=0)

    def at(self, generation: int) -> "SegmentStore":
        """A read-only view of this store pinned to ``generation`` —
        Iceberg time travel (VERSION AS OF) over the manifest commit
        log. Every read (read_postings, Searcher, deletes scoping,
        summary) resolves the pinned snapshot; every write raises.
        Fails fast if the generation was never committed or its
        snapshot file has been expired (expire_generations keeps the
        last K — the time-travel horizon, exactly expire_snapshots').
        Note data liveness: cleanup() physically deletes segments
        tombstoned before the pinned snapshot's grace window, so pin
        horizons and cleanup grace should be aligned, as in Iceberg."""
        gen = int(generation)
        if gen < 1:
            raise ValueError(f"generation must be >= 1, got {generation}")
        path = os.path.join(self._manifest_dir(), f"gen-{gen}.parquet")
        if not os.path.exists(path):
            cur = self.current_generation()
            raise FileNotFoundError(
                f"generation {gen} not available (current={cur}; older "
                "snapshots may have been expired by expire_generations)"
            )
        return SegmentStore(self.root, pin_generation=gen)

    def generations(self) -> list[int]:
        """Committed snapshot generations still readable (sorted) —
        the valid arguments to at()."""
        try:
            names = os.listdir(self._manifest_dir())
        except FileNotFoundError:
            return []
        return sorted(
            int(n[4:-8])
            for n in names
            if n.startswith("gen-") and n.endswith(".parquet")
        )

    def read_manifest(self) -> pd.DataFrame:
        if self.pin_generation is not None:
            try:
                return _read_gen_file(
                    os.path.join(
                        self._manifest_dir(),
                        f"gen-{self.pin_generation}.parquet",
                    )
                )
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"pinned generation {self.pin_generation} has been "
                    "expired (expire_generations) — the snapshot is gone"
                ) from None
        # retry: under extreme contention the resolved gen file can be
        # expired (expire_generations keeps the last K) between the
        # listdir and the read — re-resolve to the new max
        for _ in range(100):
            gen = self.current_generation()
            if gen == 0:
                return pd.DataFrame(columns=MANIFEST_COLS)
            try:
                return _read_gen_file(
                    os.path.join(self._manifest_dir(), f"gen-{gen}.parquet")
                )
            except FileNotFoundError:
                continue
        raise RuntimeError("manifest read: resolved generation kept vanishing")

    def _commit_manifest(self, transform) -> int:
        """Serializable optimistic commit (round-2 fix for the CAS gap
        the reference closes with O_CREATE|O_EXCL + per-file locks,
        single/single.go:810, multiple/files_list.go:9-16):

            loop: base = max gen → manifest = read(base)
                  → next = transform(manifest, base)
                  → write temp → os.link(temp, gen-(base+1))  [atomic excl]
                  → on EEXIST (someone else won base+1): back off
                    (jittered, capped exponential sleep), then retry on
                    top of THEIR snapshot — transform is re-applied, so
                    no committer's rows are ever lost.

        CURRENT remains as a best-effort monotone pointer for humans;
        readers resolve via the max-gen scan above."""
        if self.pin_generation is not None:
            raise PermissionError(
                f"store is a read-only snapshot pinned at generation "
                f"{self.pin_generation} (at()); commits must go through "
                "an unpinned SegmentStore"
            )
        self._require_writable()
        os.makedirs(self._manifest_dir(), exist_ok=True)
        lost = 0
        for _ in range(1000):
            base = self.current_generation()
            try:
                manifest = (
                    _read_gen_file(
                        os.path.join(self._manifest_dir(), f"gen-{base}.parquet")
                    )
                    if base
                    else pd.DataFrame(columns=MANIFEST_COLS)
                )
            except FileNotFoundError:
                continue  # base expired under us — re-resolve
            nxt = transform(manifest, base)[MANIFEST_COLS]
            gen = base + 1
            tmp = os.path.join(
                self._manifest_dir(), f".tmp-{uuid.uuid4().hex[:8]}.parquet"
            )
            nxt.to_parquet(tmp, index=False)
            target = os.path.join(self._manifest_dir(), f"gen-{gen}.parquet")
            try:
                os.link(tmp, target)  # atomic create-exclusive
            except FileExistsError:
                os.unlink(tmp)
                lost += 1
                time.sleep(
                    random.uniform(
                        0, min(_BACKOFF_CAP_S, _BACKOFF_BASE_S * 2 ** min(lost, 16))
                    )
                )
                continue  # lost the race — retry on the new base
            os.unlink(tmp)
            self._advance_current(gen)
            return gen
        raise RuntimeError("manifest commit contention: 1000 retries exhausted")

    def _advance_current(self, gen: int) -> None:
        """Monotone best-effort CURRENT pointer (debug/compat only)."""
        try:
            with open(self._current_path()) as f:
                if int(f.read().strip()) >= gen:
                    return
        except (FileNotFoundError, ValueError):
            pass
        tmp = self._current_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(gen))
        os.replace(tmp, self._current_path())

    def live_segments(self) -> pd.DataFrame:
        m = self.read_manifest()
        return m[m["status"] == LIVE] if len(m) else m

    def pinned_bucket_size(self) -> int | None:
        """The store-wide doc-bucket width, pinned by the first commit.

        Buckets are only disjoint doc ranges ACROSS segments when every
        segment used the same bucket_size — the invariant query-side
        groupBy(bucket) and merge rely on. Mixing widths silently
        double-counts docs (verified live before this guard existed).
        Returns None on an empty store or a pre-versioned manifest."""
        live = self.live_segments()
        if not len(live) or "bucket_size" not in live.columns:
            return None
        vals = sorted({int(v) for v in live["bucket_size"].fillna(0) if int(v) > 0})
        if not vals:
            return None
        if len(vals) > 1:  # pre-guard stores could have mixed widths
            raise ValueError(f"store has mixed bucket sizes {vals}; rebuild or merge")
        return vals[0]

    def has_chunk(self, build_id: str, chunk: int) -> bool:
        """Resumability probe: was this (build_id, chunk) committed?"""
        m = self.read_manifest()
        if not len(m):
            return False
        hit = m[(m["build_id"] == build_id) & (m["chunk"] == chunk)]
        return len(hit) > 0

    # ------------------------------------------------------------ commit
    def commit_segment(
        self,
        segment_id: str,
        stats: dict,
        replaces: list[str] | None = None,
        retire_deletes: list[str] | None = None,
        attach_deletes: tuple[str, int] | None = None,
        expect_deletes: list[str] | None = None,
    ) -> int:
        """Append a live manifest row (optionally tombstoning inputs) —
        the analog of filesList add + merged-list move
        (multiple/multiple_index.go:70-81). The transform re-applies on
        every CAS retry, so concurrent committers never lose rows.

        When ``replaces`` is non-empty, EVERY victim must still be LIVE
        in the retry-time snapshot; raises :class:`ErrMergeConflict`
        otherwise (a racing merger already consumed one — committing
        would double-count the shared docs).

        ``attach_deletes=(del_id, n)``: commit a STAGED delete batch in
        the SAME transaction at the SAME generation as the new segment
        — the atomic delete+add a reindex needs (the batch scopes over
        every earlier segment, gen < batch gen, but not its pair).

        ``expect_deletes``: the delete-batch snapshot a merge PURGED
        (possibly empty). If the commit-time manifest holds a live
        batch outside this set, the merge raced a ``delete_docs``: the
        batch tombstones the victims (gen-scoped, their gens are lower)
        but would NOT scope over the merged output (whose gen is
        higher), so committing would resurrect those docs — raises
        :class:`ErrMergeConflict` and the caller re-merges against the
        fresh delete set. ``None`` (non-merge commits) skips the check."""

        def transform(m: pd.DataFrame, base: int) -> pd.DataFrame:
            m = m.copy()
            if expect_deletes is not None and len(m):
                live_del = set(m.loc[m["status"] == DELETES, "segment_id"])
                unseen = live_del - set(expect_deletes)
                if unseen:
                    raise ErrMergeConflict(
                        f"delete batch(es) {sorted(unseen)} committed while "
                        "the merge ran — the rewrite did not purge them and "
                        "the merged segment would escape their generation "
                        "scope; re-merge against the fresh delete set"
                    )
            if replaces:
                live_ids = set(m.loc[m["status"] == LIVE, "segment_id"])
                stale = [s for s in replaces if s not in live_ids]
                if stale:
                    raise ErrMergeConflict(
                        f"merge victims no longer live: {stale} — a racing "
                        "compaction already consumed them; abort this merge"
                    )
                hit = m["segment_id"].isin(replaces) & (m["status"] == LIVE)
                m.loc[hit, "status"] = MERGED
                m.loc[hit, "tombstone_ts"] = time.time()
            row = {
                "segment_id": segment_id,
                "path": self.seg_dir(segment_id),
                "generation_added": base + 1,
                "status": LIVE,
                "created_ts": time.time(),
                "tombstone_ts": 0.0,
                "build_id": stats.get("build_id", ""),
                "chunk": stats.get("chunk", -1),
                "input_fingerprint": stats.get("input_fingerprint", ""),
                "terms_per_sec": stats.get("terms_per_sec", 0.0),
                "skew_ratio": stats.get("skew_ratio", 0.0),
                "bucket_size": stats.get("bucket_size", 0),
                **{
                    k: stats.get(k, 0)
                    for k in (
                        "n_terms", "n_postings", "n_docs", "sum_dl", "bytes",
                        "min_doc", "max_doc",
                    )
                },
            }
            row_df = pd.DataFrame([row])
            if attach_deletes is not None:
                d_id, d_n = attach_deletes
                row_df = pd.concat(
                    [row_df, self._delete_row(d_id, d_n, base + 1)],
                    ignore_index=True,
                )
            nxt = row_df if not len(m) else pd.concat([m, row_df], ignore_index=True)
            if retire_deletes:
                # retire delete batches the merge physically absorbed —
                # ATOMIC with the swap. A batch stays live iff some
                # OTHER live segment in THIS transaction's snapshot
                # still PREDATES it (gen-scoped: the batch applies only
                # to segments with generation_added < its own; the
                # merged output postdates everything, and its rows were
                # purged under the same scoping). Concurrently
                # committed segments are in the snapshot and keep the
                # batches they need; batches committed after the merge
                # started are not in the list and stay live regardless.
                others = nxt[
                    (nxt["status"] == LIVE) & (nxt["segment_id"] != segment_id)
                ]
                floor = (
                    int(others["generation_added"].min()) if len(others) else None
                )
                for b in retire_deletes:
                    hit = (
                        (nxt["segment_id"] == b)
                        & (nxt["status"] == DELETES)
                        & (
                            (floor is None)
                            | (nxt["generation_added"] <= (floor if floor is not None else 0))
                        )
                    )
                    nxt.loc[hit, "status"] = MERGED
                    nxt.loc[hit, "tombstone_ts"] = time.time()
            return nxt

        return self._commit_manifest(transform)

    # ----------------------------------------------------------- deletes
    def delete_docs(self, spark: SparkSession, doc_ids) -> str | None:
        """Tombstone documents by id (Lucene-style doc deletes — an
        extension; the reference's segments are insert-only). Writes a
        parquet delete batch under ``segments/<id>/deletes`` and
        commits it with status=``deletes`` in the same generation
        mechanism as segments, so readers always see a consistent
        (segments, deletes) snapshot.

        Read semantics are "as-if-rebuilt": deleted docs vanish from
        every value/search/phrase result AND from corpus statistics
        (N, avgdl, df) — see Searcher.open's purge and bm25.corpus_stats.
        The term DICTIONARY (read_terms) keeps a term until a
        compaction rewrites its last posting away, like Lucene's.
        Batches are GENERATION-SCOPED (live_tombstones docstring): a
        batch only tombstones segments committed BEFORE it, so a doc
        re-added in a LATER segment is visible again with its new
        content — reindex_docs builds the atomic delete+add on this.
        Compaction physically purges tombstoned rows and retires
        fully-absorbed batches.

        ``doc_ids`` is a DataFrame with a ``doc_id`` column or an
        iterable of ints. Returns the delete-batch id, or None for an
        empty set."""
        staged = self.stage_delete_batch(spark, doc_ids)
        if staged is None:
            return None
        del_id, n = staged

        def transform(m: pd.DataFrame, base: int) -> pd.DataFrame:
            row = self._delete_row(del_id, n, base + 1)
            return row if not len(m) else pd.concat([m, row], ignore_index=True)

        self._commit_manifest(transform)
        return del_id

    def stage_delete_batch(self, spark: SparkSession, doc_ids) -> tuple[str, int] | None:
        """Write a delete batch's parquet WITHOUT committing it —
        reindex_docs stages the tombstones, then commit_segment
        attaches the batch row and the new segment row in ONE manifest
        transaction (same generation: the batch scopes over every
        prior segment but not its paired one). Returns (del_id, n) or
        None for an empty set; an uncommitted staged dir is invisible
        to readers and harmless if the paired build fails (remove with
        drop_staged_delete_batch)."""
        if self.pin_generation is not None:
            raise PermissionError(
                "store is a read-only snapshot (at()); cannot stage deletes"
            )
        self._require_writable()
        if isinstance(doc_ids, DataFrame):
            df = doc_ids.select(F.col("doc_id").cast("long")).distinct()
        else:
            ids = sorted({int(x) for x in doc_ids})
            if not ids:
                return None
            df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        del_id = new_segment_id()
        path = os.path.join(self.seg_dir(del_id), "deletes")
        if isinstance(doc_ids, DataFrame):
            obs = Observation(f"deletes-{del_id}")
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        df.write.mode("overwrite").parquet(path)
        # the batch size rides the write job: no read-back job
        n = int(obs.get["n"]) if isinstance(doc_ids, DataFrame) else len(ids)
        if n == 0:
            shutil.rmtree(self.seg_dir(del_id), ignore_errors=True)
            return None
        return del_id, n

    def drop_staged_delete_batch(self, del_id: str) -> None:
        """Remove a staged-but-uncommitted delete batch (reindex_docs
        failure path)."""
        shutil.rmtree(self.seg_dir(del_id), ignore_errors=True)

    def _delete_row(self, del_id: str, n: int, gen: int) -> pd.DataFrame:
        return pd.DataFrame(
            [{
                "segment_id": del_id,
                "path": os.path.join(self.seg_dir(del_id), "deletes"),
                "generation_added": gen,
                "status": DELETES,
                "created_ts": time.time(),
                "tombstone_ts": 0.0,
                "n_docs": n,
                "bytes": dir_bytes(self.seg_dir(del_id)),
            }]
        ).reindex(columns=MANIFEST_COLS)

    def live_deletes(self) -> pd.DataFrame:
        m = self.read_manifest()
        return m[m["status"] == DELETES] if len(m) else m

    def has_deletes(self) -> bool:
        return len(self.live_deletes()) > 0

    def read_deletes(self, spark: SparkSession) -> DataFrame:
        """Union of live delete batches → distinct doc_id DataFrame."""
        dels = self.live_deletes()
        if not len(dels):
            return spark.createDataFrame([], "doc_id long")
        paths = [os.path.join(self.seg_dir(s), "deletes") for s in dels["segment_id"]]
        return read_parquet(spark, paths).select("doc_id").distinct()

    def live_tombstones(self) -> pd.DataFrame:
        """The live delete set as one pandas frame of ``(doc_id,
        del_gen)`` rows, one per live batch naming the doc with that
        batch's generation, in :func:`_tomb_frame` order. A batch is
        GENERATION-SCOPED (Lucene per-segment liveness / Iceberg
        equality-delete sequence numbers): it applies only to segments
        with ``generation_added`` strictly below its own, so a doc
        re-added AFTER its delete (reindex) is visible from the newer
        segment. Memoized per live batch set (module docstring); the
        frame is shared and must not be modified."""
        dels = self.live_deletes()
        if not len(dels):
            return NO_TOMBS
        batches = [
            (*_delete_batch(os.path.join(self.seg_dir(s), "deletes")), int(g))
            for s, g in zip(dels["segment_id"], dels["generation_added"])
        ]
        key = tuple((k, g) for k, _, g in batches)
        tombs = _memo_get(_TOMBS, key)
        if tombs is None:
            tombs = _tomb_frame([(ids, g) for _, ids, g in batches])
            _memo_put(_TOMBS, key, tombs)
        return tombs

    def delete_scan_classes(
        self, segment_ids: list[str] | None = None
    ) -> list[tuple[list[str], int]]:
        """Partition segments into scan classes that share the same set
        of applicable delete batches (batch applies ⇔ batch gen >
        segment gen). Returns ``[(segment_ids, rep_gen)]`` where
        ``rep_gen`` is the max segment generation in the class —
        comparing any batch gen against it answers "does this batch
        apply" for EVERY member (equal applicable sets by
        construction). With k live batches there are at most k+1
        classes, and 1 when no segment postdates any batch (the common
        case — one scan, exactly the no-deletes plan)."""
        import bisect

        live = self.live_segments()
        if segment_ids is not None:
            live = live[live["segment_id"].isin(list(segment_ids))]
        if not len(live):
            return []
        batch_gens = sorted(int(g) for g in self.live_deletes()["generation_added"])
        groups: dict[int, tuple[list[str], int]] = {}
        for sid, gen in zip(live["segment_id"], live["generation_added"]):
            key = bisect.bisect_right(batch_gens, int(gen))
            ids, rep = groups.get(key, ([], -1))
            ids.append(sid)
            groups[key] = (ids, max(rep, int(gen)))
        return [groups[k] for k in sorted(groups)]

    def cleanup(self, grace_s: float = 0.0) -> list[str]:
        if self.pin_generation is not None:
            raise PermissionError(
                "store is a read-only snapshot (at()); cleanup is a write"
            )
        self._require_writable()
        return self._cleanup(grace_s)

    def _cleanup(self, grace_s: float = 0.0) -> list[str]:
        """Delete merged segments' data (reference Cleanup,
        multiple/multiple_index.go:218-252). ``grace_s`` keeps
        tombstoned segments on disk for a window after the merge commit
        so in-flight readers holding an older snapshot finish cleanly —
        the snapshot-isolation replacement for the reference's per-file
        read locks (set it above your max read latency when readers
        run concurrently; 0 keeps single-driver behavior). Returns
        deleted segment ids."""
        m = self.read_manifest()
        if not len(m):
            return []
        now = time.time()
        ts = m["tombstone_ts"].fillna(0.0)
        dead = m[(m["status"] == MERGED) & (ts <= now - grace_s)]
        deleted = []
        for seg_id in dead["segment_id"]:
            d = self.seg_dir(seg_id)
            shutil.rmtree(d, ignore_errors=True)
            deleted.append(seg_id)
        if deleted:
            gone = set(deleted)
            self._commit_manifest(
                lambda m, base: m[~m["segment_id"].isin(gone)].reset_index(drop=True)
            )
        self.expire_generations(grace_s=grace_s)
        return deleted

    def expire_generations(self, keep: int = 8, grace_s: float = 0.0) -> int:
        if self.pin_generation is not None:
            raise PermissionError(
                "store is a read-only snapshot (at()); expiry is a write"
            )
        return self._expire_generations(keep, grace_s)

    def _expire_generations(self, keep: int = 8, grace_s: float = 0.0) -> int:
        """Delete old gen-N.parquet snapshot files, keeping the last
        ``keep`` (Iceberg's expire_snapshots; the reference's analog is
        its bounded in-RAM filesList). Without this, a streaming sink
        committing per micro-batch grows the manifest dir O(commits)
        files / O(commits²) bytes and current_generation()'s listdir
        slows linearly (round-3 fix). Safe with concurrent committers:
        commits only ever CREATE gen-(max+1); deleting gens below
        max-keep can't race the max-scan forward, and ``grace_s``
        (mtime-based) protects in-flight readers that resolved an older
        snapshot. Returns how many files were deleted."""
        mdir = self._manifest_dir()
        try:
            names = os.listdir(mdir)
        except FileNotFoundError:
            return 0
        gens = sorted(
            int(n[4:-8])
            for n in names
            if n.startswith("gen-") and n.endswith(".parquet")
        )
        if len(gens) <= keep:
            return 0
        now = time.time()
        n_deleted = 0
        for g in gens[:-keep]:
            p = os.path.join(mdir, f"gen-{g}.parquet")
            try:
                if now - os.path.getmtime(p) < grace_s:
                    continue
                os.unlink(p)
                n_deleted += 1
            except FileNotFoundError:
                pass  # a concurrent cleaner got it first
        return n_deleted

    # ------------------------------------------------------------- reads
    def df_exact(self) -> bool:
        """True when the stored per-row ``df`` sums to each term's live
        document frequency: one live segment (no cross-segment overlap)
        and no live deletes. Otherwise df needs decoded distinct docs."""
        return len(self.live_segments()) <= 1 and not self.has_deletes()

    def scan(
        self, spark: SparkSession, dataset: str, ids: list[str], scoped: bool = True
    ) -> DataFrame:
        """ONE multi-path parquet scan of ``segments/<id>/<dataset>`` →
        predicate pushdown + file pruning apply across all segments at
        once.

        With live deletes (and ``scoped``) the scan also carries
        ``_sgen`` — the scan-class representative generation
        (delete_scan_classes), the provenance generation-scoped
        tombstones need (apply_buckets). It is a LITERAL per class scan
        (one scan per class, unioned), so pushdown/pruning still reach
        every scan; one class → the plain plan plus a constant column."""
        classes = (
            self.delete_scan_classes(ids)
            if scoped and self.has_deletes()
            else [(ids, None)]
        )
        df = None
        for cls_ids, rep in classes:
            part = read_parquet(
                spark, [os.path.join(self.seg_dir(s), dataset) for s in cls_ids]
            )
            if rep is not None:
                part = part.withColumn("_sgen", F.lit(int(rep)))
            df = part if df is None else df.unionByName(part)
        return df

    def read_postings(
        self, spark: SparkSession, segment_ids: list[str] | None = None
    ) -> DataFrame:
        """Union of live segments' postings (:meth:`scan`): rows carry
        ``_sgen`` exactly when deletes are live."""
        ids = list(segment_ids or self.live_segments()["segment_id"])
        if not ids:
            return spark.createDataFrame([], POSTINGS_SCHEMA)
        return self.scan(spark, "postings", ids)

    def read_docstats(
        self, spark: SparkSession, segment_ids: list[str] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        live = self.live_segments()
        ids = list(segment_ids or live["segment_id"])
        if not ids:
            return spark.createDataFrame(
                [], T.StructType([T.StructField("doc_id", T.LongType()),
                                  T.StructField("dl", T.LongType())])
            )
        raw = self.scan(spark, "docstats", ids, scoped=not include_deleted)
        if "_sgen" in raw.columns:
            raw = self._live_docs(spark, raw)
        # same doc may appear in several segments pre-compaction → dedup
        return raw.dropDuplicates(["doc_id"])

    def _live_docs(self, spark: SparkSession, raw: DataFrame) -> DataFrame:
        """Doc-level rows minus tombstoned docs, BEFORE any cross-segment
        dedup: a reindexed doc's old and new copies differ (dl, text)
        and only the old one is tombstoned, so dedup-first could keep
        either."""
        schema = T.StructType([f for f in raw.schema.fields if f.name != "_sgen"])
        return apply_buckets(spark, self, raw, _live_doc_rows, schema, rowwise=True)

    def read_docs(
        self,
        spark: SparkSession,
        segment_ids: list[str] | None = None,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Union of live segments' (doc_id, text) doc stores (written by
        build_index(store_text=True)). Raises when any live segment
        lacks the dataset — a partial doc store would silently hydrate
        some results and drop others. ``buckets`` applies a pushable
        IN-filter BELOW the cross-segment dedup (the dedup is an
        aggregation, so a filter added above it could never reach the
        scan) — the pruning Searcher.fetch_text relies on."""
        live = self.live_segments()
        ids = list(segment_ids or live["segment_id"])
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("bucket", T.LongType()),
            ]
        )
        if not ids:
            return spark.createDataFrame([], schema)
        paths = [os.path.join(self.seg_dir(s), "docs") for s in ids]
        missing = [s for s, p in zip(ids, paths) if not os.path.isdir(p)]
        if missing:
            raise ValueError(
                f"segments without a doc store: {missing} — rebuild with "
                "build_index(..., store_text=True)"
            )
        raw = self.scan(spark, "docs", ids, scoped=not include_deleted)
        if buckets is not None:
            raw = raw.where(F.col("bucket").isin([int(b) for b in buckets]))
        if "_sgen" in raw.columns:
            raw = self._live_docs(spark, raw)
        return raw.dropDuplicates(["doc_id"])

    # ------------------------------------------------------------ merger
    def pick_merge_candidates(self, min_files: int = 2, max_files: int = 8) -> list[str]:
        """Size-tiered policy: up to max smallest live segments, or []
        if fewer than min exist (checkMerge,
        multiple/multiple_index.go:94-129)."""
        live = self.live_segments()
        if len(live) < min_files:
            return []
        return list(live.sort_values("bytes")["segment_id"].head(max_files))

    def summary(self) -> pd.DataFrame:
        """U1 PrintSummary analog (single/summary.go:9-54)."""
        return self.read_manifest()


def new_segment_id() -> str:
    """unixMicro_rand naming, like multiple/multiple_index.go:280-287."""
    return f"{int(time.time() * 1e6)}_{uuid.uuid4().hex[:8]}"


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def fingerprint_input(desc: dict) -> str:
    return json.dumps(desc, sort_keys=True)
