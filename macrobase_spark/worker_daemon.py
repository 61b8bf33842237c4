"""Spark's Python worker daemon, importing pyspark from its installed package.

Spark starts each Python worker daemon with its own archives at the head of
``sys.path``: ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar. A worker then imports pyspark from the zip, and
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task. On Python 3.11 that makes
every cached ``zipimporter`` re-read its archive's whole directory: 13 on
``pyspark.zip`` (1,328 entries, ~11 ms each), 2 on the spark-core jar
(5,359 entries, ~45 ms each) and 1 on py4j, about 230 ms of CPU per task
whatever its rows.

Run as ``python -m macrobase_spark.worker_daemon`` (Spark's
``spark.python.daemon.module``), this module drops those three archives
from ``sys.path`` and ``sys.path_importer_cache`` when the rest of the path
resolves ``py4j`` and the same pyspark release, then runs
``pyspark.daemon.manager()``; otherwise it leaves the path alone and
behaves exactly like ``pyspark.daemon``. Other entries (a user's archives
on PYTHONPATH, ``--py-files``) are kept. The package ``__init__`` imports
no pyspark: it runs before the filter.
"""

import fnmatch
import importlib.machinery
import os
import sys
import zipfile

_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def worker_path(path: list[str]) -> list[str]:
    """`path` without Spark's own archives if the rest of it resolves py4j
    and a pyspark whose ``version.py`` equals ``pyspark.zip``'s; else
    `path` itself."""
    spark = [p for p in path if any(fnmatch.fnmatch(os.path.basename(p), a)
                                    for a in _SPARK_ARCHIVES)]
    rest = [p for p in path if p not in spark]
    find = importlib.machinery.PathFinder.find_spec
    pyspark = find("pyspark", rest)
    if (not spark or pyspark is None or pyspark.origin is None
            or find("py4j", rest) is None):
        return path
    try:
        installed = os.path.join(os.path.dirname(pyspark.origin), "version.py")
        with open(installed, "rb") as f:
            version = f.read()
        for p in spark:
            if os.path.basename(p) == "pyspark.zip" and os.path.exists(p):
                with zipfile.ZipFile(p) as z:
                    if z.read("pyspark/version.py") != version:
                        return path
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest


if __name__ == "__main__":
    kept = worker_path(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()
