"""PySpark's Python-worker daemon, importing pyspark from the installed package.

``get_spark`` names this module in ``spark.python.daemon.module``, so
Spark starts every Python-worker daemon as ``python -m rstreams_daemon``.
Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip
and the spark-core jar at the front of the daemon's ``sys.path``.
PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``), and on Python 3.11
that re-reads the zip directory behind every cached ``zipimporter``:
16 of them once pyspark is imported from the zip (12 on pyspark.zip's
1,328 entries, 2 on the jar's 5,359), ~0.1 s per task on 4 vCPU,
more when four workers re-read at once.

When the interpreter's own pyspark and py4j import without those
entries, this module drops them from ``sys.path`` and from
``sys.path_importer_cache`` (which ``invalidate_caches`` walks) before
anything imports pyspark, then runs PySpark's own daemon. The call then
finds no ``zipimporter`` and costs microseconds. Otherwise the path
stays as Spark set it. This module lives outside the ``rstreams_spark``
package because importing the package imports pyspark.
"""

from __future__ import annotations

import os
import sys
from importlib.machinery import PathFinder


def _spark_added(entry: str) -> bool:
    """The entries Spark's ``PythonUtils.sparkPythonPath`` adds."""
    name = os.path.basename(entry)
    return (name == "pyspark.zip"
            or (name.startswith("py4j-") and name.endswith("-src.zip"))
            or (name.startswith("spark-core_") and name.endswith(".jar")))


def strip_spark_zips(path: list[str], importer_cache: dict) -> list[str]:
    """``path`` without Spark's zips and jar, their keys deleted from
    ``importer_cache``, when pyspark and py4j are both importable from
    what is left; otherwise ``path`` itself, with the cache untouched."""
    dropped = [p for p in path if _spark_added(p)]
    kept = [p for p in path if not _spark_added(p)]
    if not dropped or any(PathFinder.find_spec(m, kept) is None for m in ("pyspark", "py4j")):
        return path
    for p in dropped:
        importer_cache.pop(p, None)
    return kept


if __name__ == "__main__":
    sys.path[:] = strip_spark_zips(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
