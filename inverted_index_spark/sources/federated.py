"""Federated (multi-index) reads — ES cross-index search.

Elasticsearch lets one query span several indices (``GET /a,b/_search``)
and, under ``dfs_query_then_fetch``, scores with GLOBAL corpus
statistics so ranks match a hypothetical merged index. The reference
engine has the same shape one level down: ``IndexDirectory`` readers
union many immutable files (multiple/multiple_index.go:130-204).

``FederatedStore`` lifts that idea one more level: a read-only view
over N independent ``SegmentStore``s that presents their live segments
as ONE segment list. Because every read-path operator in this engine
is already multi-segment-safe (single multi-path parquet scan,
cross-segment dedup, bucket pruning), federation needs NO operator
changes — ``bm25_topk(spark, FederatedStore([a, b]), ...)``,
``read_values``, ``phrase_match`` etc. just work, and BM25 uses global
(N, avgdl, df) by construction, i.e. dfs_query_then_fetch semantics:
rank-identical to indexing the union corpus into one store (tested +
oracle-gated).

Scale: the federated scan is the same single multi-path parquet read a
big store already does — pushdown, row-group pruning and bucket
partitioning all still apply; no extra shuffle or driver state beyond
the member manifests (segment *metadata*, not data).

Requirements (checked, clear errors):
- members share one pinned bucket_size (bucket pruning stays valid);
- members carry no live deletes (delete generations are per-store
  counters and not comparable across members — compact first);
- member doc_id spaces should be disjoint (callers mint ids globally;
  overlapping ids would dedup to one row like pre-compaction overlap).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from inverted_index_spark.sources.store import SegmentStore, read_parquet


class FederatedStore:
    """Read-only multi-store view (duck-typed SegmentStore reader)."""

    def __init__(self, stores: list[SegmentStore]):
        if not stores:
            raise ValueError("FederatedStore needs at least one member store")
        self.stores = list(stores)
        self.root = "federated://" + ",".join(s.root for s in self.stores)
        sizes = {s.pinned_bucket_size() for s in self.stores}
        sizes.discard(None)
        if len(sizes) > 1:
            raise ValueError(
                f"member stores pin different bucket sizes {sorted(sizes)} — "
                "bucket pruning would be wrong; rebuild with one size"
            )
        self._bucket_size = sizes.pop() if sizes else None
        dirty = [s.root for s in self.stores if s.has_deletes()]
        if dirty:
            raise ValueError(
                "federated reads require delete-free members (per-store "
                f"delete generations don't compose); compact first: {dirty}"
            )
        self._owner: dict[str, SegmentStore] = {}
        for s in self.stores:
            for sid in s.live_segments()["segment_id"]:
                if sid in self._owner:
                    raise ValueError(f"duplicate segment id across members: {sid}")
                self._owner[sid] = s

    # --------------------------------------------------- reader surface
    def pinned_bucket_size(self) -> int | None:
        return self._bucket_size

    def has_deletes(self) -> bool:
        return False  # enforced at construction

    def live_segments(self) -> pd.DataFrame:
        return pd.concat(
            [s.live_segments() for s in self.stores], ignore_index=True
        )

    def seg_dir(self, segment_id: str) -> str:
        return self._owner[segment_id].seg_dir(segment_id)

    def _paths(self, dataset: str, segment_ids: list[str] | None) -> list[str]:
        ids = list(segment_ids or self.live_segments()["segment_id"])
        return [os.path.join(self.seg_dir(s), dataset) for s in ids]

    def df_exact(self) -> bool:
        return len(self.live_segments()) <= 1  # no deletes (see above)

    def scan(self, spark: SparkSession, dataset: str, ids: list[str]) -> DataFrame:
        """ONE multi-path scan over every member's datasets — identical
        plan shape to a single store's multi-segment read, so term-IN
        pushdown and (bucket, term) row-group pruning span the
        federation (members are delete-free: never an ``_sgen``).
        Listed once per path set, like a member's own scans
        (store.read_parquet)."""
        return read_parquet(spark, self._paths(dataset, ids))

    def read_postings(
        self, spark: SparkSession, segment_ids: list[str] | None = None
    ) -> DataFrame:
        if not self._paths("postings", segment_ids):
            return self.stores[0].read_postings(spark, segment_ids=[])
        return self.scan(spark, "postings", segment_ids)

    def read_docstats(
        self,
        spark: SparkSession,
        segment_ids: list[str] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        paths = self._paths("docstats", segment_ids)
        if not paths:
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("doc_id", T.LongType()),
                        T.StructField("dl", T.LongType()),
                    ]
                ),
            )
        return read_parquet(spark, paths).dropDuplicates(["doc_id"])

    def read_docs(
        self,
        spark: SparkSession,
        segment_ids: list[str] | None = None,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        paths = self._paths("docs", segment_ids)
        missing = [p for p in paths if not os.path.isdir(p)]
        if missing:
            raise ValueError(
                f"segments without a doc store: {missing} — rebuild members "
                "with build_index(..., store_text=True)"
            )
        raw = read_parquet(spark, paths)
        if buckets is not None:
            raw = raw.where(F.col("bucket").isin([int(b) for b in buckets]))
        return raw.dropDuplicates(["doc_id"])

    def read_manifest(self) -> pd.DataFrame:
        return pd.concat(
            [s.read_manifest() for s in self.stores], ignore_index=True
        )

    def summary(self) -> pd.DataFrame:
        return self.read_manifest()

    # ------------------------------------------------------- mutations
    def _read_only(self, *_a, **_k):
        raise PermissionError(
            "FederatedStore is a read-only view — mutate member stores"
        )

    commit_segment = _read_only
    delete_docs = _read_only
    stage_delete_batch = _read_only
    cleanup = _read_only
    expire_generations = _read_only
