"""The session's Python worker daemon: pyspark's stock daemon with a
stat-guarded ``zipimporter.invalidate_caches``.

Every Python task (UDF, ``mapInPandas``, RDD function) calls
``importlib.invalidate_caches()`` once in
``pyspark.worker_util.setup_spark_files``. On Python 3.11 that makes every
``zipimporter`` re-read its archive's whole central directory. The workers
import pyspark from ``pyspark.zip`` (1,328 entries) through about 16 importers,
one per imported sub-package. Measured at local[4] on a 4-core host, a task
used 110-210 ms of worker CPU, most of it re-reading the unchanged archive,
and 10-40 ms with the guard. The guard re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the one recorded at that importer's
last read, or when it cannot be stat'ed. The key lives on the importer, so
every importer over a rewritten archive reloads.

Spark runs this module as ``python -m hdfs_mapreduce_spark.pydaemon`` (the
session's ``spark.python.daemon.module``), so it must be importable by the
workers; ``session.get_spark`` puts its parent directory on their path.
"""

import os
import zipimport

_reload = zipimport.zipimporter.invalidate_caches


def _stat_guarded_invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None and key == getattr(self, "_stat_key", None):
        return
    _reload(self)
    self._stat_key = key


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _stat_guarded_invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
