"""Python worker daemon for ``local[...]`` masters: ``pyspark.daemon``
minus the per-task re-read of Spark's own archives.

Every Python task calls ``importlib.invalidate_caches()``, and each
zipimporter answers it by re-reading its archive's whole directory:
about 0.1 s per task for the spark-core jar that Spark puts on the
workers' ``sys.path``. The Spark archives on ``sys.path`` when the daemon
starts do not change under a running worker, so their re-read is
skipped; every other archive (an ``addPyFile`` zip) is still re-read.
``session.get_spark`` names this module in ``spark.python.daemon.module``.
"""

import fnmatch
import os
import sys
import zipimport

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*.zip", "spark-core_*.jar")
_FIXED = frozenset(p for p in sys.path if any(
    fnmatch.fnmatch(os.path.basename(p), pat) for pat in _SPARK_ARCHIVES))
_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    if self.archive not in _FIXED:
        _reread(self)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark import daemon

    daemon.manager()
