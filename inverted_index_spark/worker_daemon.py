"""Spark's Python worker daemon, without the per-task zip re-read.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Under Python 3.11 that
makes every cached ``zipimporter`` re-read its archive's directory. A
worker that imported PySpark from ``$SPARK_HOME/python/lib/pyspark.zip``
holds one zipimporter per PySpark package it touched (14 after a pandas
UDF), so each task read the 1,300-entry archive 14 times over: about
130 ms of every task's fixed cost on a 4-core host.

This daemon makes a zipimporter re-read its archive only when the
file's mtime or size changed since that importer last read it, then
runs :mod:`pyspark.daemon` unchanged; the workers it forks inherit the
patch. A zip shipped or replaced during the session is still re-read.

:func:`inverted_index_spark.get_spark` selects it through
``spark.python.daemon.module``. Spark starts it as ``python -m
inverted_index_spark.worker_daemon pyspark.worker`` in the JVM's
working directory, so it is only selected where a new Python process
can import this package.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(importer, "_archive_stamp", None) != stamp:
        _reread(importer)
        importer._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
