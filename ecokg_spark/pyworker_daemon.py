"""PySpark Python-worker daemon with cheap per-task import-cache invalidation.

session.get_spark sets this module as ``spark.python.daemon.module``; it is
pyspark.daemon with one change. A PySpark worker calls
importlib.invalidate_caches() at the start of every task
(pyspark.worker_util.setup_spark_files). On CPython < 3.12 every
zipimporter then re-reads its archive's whole central directory, and a
reused worker holds one zipimporter per package it has imported from
pyspark.zip: 14 of them cost ~0.1 s of worker CPU per task, more once a
worker has imported more of pyspark. On small-task jobs (a fixture
DataFrame scanned through a PythonRDD, a UDF over a few rows) that is most
of the job, and it takes the CPU from the JVM. CPython 3.12 made the
invalidation lazy (gh-103200). Here an importer re-reads its archive only
when the archive's size or mtime changed since its last read, which is the
case the invalidation exists for (a zip shipped again under the same name).
"""

from __future__ import annotations

import os
import sys
import zipimport


def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    # pyspark.daemon reads the worker module from sys.argv[1] at import
    from pyspark.daemon import manager

    manager()
