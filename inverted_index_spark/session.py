"""SparkSession factory with scale-oriented defaults.

Local sandbox runs on local[N]; the same confs are what we'd submit
with ``spark-submit --py-files`` on a real cluster (AQE on, skew-join
on, Arrow on, UTC timezone pinned for oracle comparison).
"""

from __future__ import annotations

import os
import site
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_ROOT = Path(__file__).resolve().parent.parent


def _worker_imports_package() -> bool:
    """Can a Python process the JVM starts import this package? Spark
    starts its worker daemon in the JVM's working directory (the
    driver's, locally) with PYTHONPATH holding only Spark's own
    archives, so: the package sits in the working directory, or in
    site-packages. Not when it came from a ``--py-files`` zip."""
    return _PKG_ROOT == Path(os.getcwd()).resolve() or any(
        _PKG_ROOT == Path(p).resolve() for p in site.getsitepackages()
    )


def get_spark(
    app_name: str = "inverted_index_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    cores=None → local[*]. shuffle_partitions defaults to the core
    count locally; on a real cluster it should be ~2-3x total cores
    (set via extra_conf / submit conf).
    """
    master = f"local[{cores}]" if cores else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting — the north rule's skew language maps here.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / mapInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Oracle (DuckDB) timestamps are UTC-naive; pin the session TZ.
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else (cores or 32)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
    )
    if _worker_imports_package():
        # skip each Python task's ~130 ms re-read of pyspark.zip
        builder = builder.config(
            "spark.python.daemon.module", "inverted_index_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
