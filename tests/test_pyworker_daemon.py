"""The Python-worker daemon's zip-import cache invalidation re-reads an
archive only when it changed, and workers started through it still run
Python UDFs."""

import os
import zipfile
import zipimport

from pyspark.sql import functions as F

from ecokg_spark.pyworker_daemon import _invalidate_if_changed


def _write_zip(path, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zmod.py", body)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, "X = 1\n")
    imp = zipimport.zipimporter(path)
    reads = []

    def reread(self):
        reads.append(self.archive)

    _invalidate_if_changed(imp, _reread=reread)
    _invalidate_if_changed(imp, _reread=reread)
    assert reads == [path]
    # the same name shipped again with new content: read once more
    _write_zip(path, "X = 1\nY = 2\n")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _invalidate_if_changed(imp, _reread=reread)
    _invalidate_if_changed(imp, _reread=reread)
    assert reads == [path, path]


def test_udf_runs_in_daemon_workers(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "ecokg_spark.pyworker_daemon"
    plus_one = F.udf(lambda x: x + 1, "long")
    got = sorted(r[0] for r in spark.range(8).select(plus_one("id")).collect())
    assert got == list(range(1, 9))
