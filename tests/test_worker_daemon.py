"""The Python worker daemon get_spark selects: a zipimporter re-reads
its archive only when the file changed, and the test session's UDFs
run in workers forked from that daemon."""

from __future__ import annotations

import os
import zipfile
import zipimport

from inverted_index_spark.worker_daemon import invalidate_if_changed


def test_invalidate_rereads_only_a_changed_archive(tmp_path):
    path = tmp_path / "lib.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "A = 1\n")
    imp = zipimport.zipimporter(str(path))
    invalidate_if_changed(imp)
    files = imp._files
    invalidate_if_changed(imp)
    assert imp._files is files  # unchanged archive: no re-read
    with zipfile.ZipFile(path, "a") as z:
        z.writestr("b.py", "B = 2\n")
    st = path.stat()
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    invalidate_if_changed(imp)
    assert imp._files is not files
    assert "b.py" in imp._files and "a.py" in imp._files


def test_session_workers_use_the_daemon(spark):
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "inverted_index_spark.worker_daemon"
    )

    def probe(batches):
        import pandas as pd

        name = zipimport.zipimporter.invalidate_caches.__name__
        for _ in batches:
            yield pd.DataFrame({"name": [name]})

    names = {
        r["name"]
        for r in spark.range(2, numPartitions=2)
        .mapInPandas(probe, schema="name string")
        .collect()
    }
    assert names == {"invalidate_if_changed"}
