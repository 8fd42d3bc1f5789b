"""Python workers start from ``rstreams_daemon``: pyspark and py4j
come from the installed package, not SPARK_HOME's zips, so PySpark's
per-task ``importlib.invalidate_caches()`` finds no ``zipimporter`` to
re-read; and the package imports in workers whatever the driver's
working directory. The path filter is pinned without Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rstreams_daemon import strip_spark_zips  # noqa: E402


def _zip(path, *members):
    with zipfile.ZipFile(path, "w") as z:
        for m in members:
            z.writestr(m, "")
    return str(path)


@pytest.fixture
def spark_lib(tmp_path):
    """The three entries Spark puts on a worker's path, each a real zip."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    jars = tmp_path / "spark" / "jars"
    jars.mkdir()
    return [_zip(lib / "pyspark.zip", "pyspark/__init__.py"),
            _zip(lib / "py4j-0.10.9.9-src.zip", "py4j/__init__.py"),
            _zip(jars / "spark-core_2.13-4.1.2.jar", "META-INF/MANIFEST.MF")]


def test_strip_drops_spark_entries_when_installed_pyspark_stands_in(tmp_path, spark_lib):
    site = tmp_path / "site"
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    user_zip = _zip(tmp_path / "deps.zip", "deps/__init__.py")
    path = [str(tmp_path), *spark_lib, user_zip, str(site)]
    cache = {p: object() for p in path}
    assert strip_spark_zips(path, cache) == [str(tmp_path), user_zip, str(site)]
    assert sorted(cache) == sorted([str(tmp_path), user_zip, str(site)])


def test_strip_keeps_the_path_when_only_the_zip_has_pyspark(tmp_path, spark_lib):
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)  # py4j installed, pyspark not
    (site / "py4j" / "__init__.py").write_text("")
    path = [*spark_lib, str(site)]
    cache = {p: object() for p in path}
    before = dict(cache)
    assert strip_spark_zips(path, cache) is path
    assert path == [*spark_lib, str(site)]
    assert cache == before


def test_python_worker_imports_installed_pyspark(spark):
    """In a Python task: no ``zipimporter`` in the importer cache before
    or after ``invalidate_caches()``, and pyspark is the installed
    package of the JVM's version. On SPARK_HOME's zips the cache held
    16 zipimporters, re-read on every task."""
    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd
        import pyspark

        def zips():
            return sum(isinstance(v, zipimport.zipimporter)
                       for v in sys.path_importer_cache.values())

        before = zips()
        importlib.invalidate_caches()
        for _ in batches:
            pass
        yield pd.DataFrame({"before": [before], "after": [zips()],
                            "file": [pyspark.__file__], "version": [pyspark.__version__]})

    row, = (spark.range(1).repartition(1)
            .mapInPandas(probe, "before int, after int, file string, version string")
            .collect())
    assert (row.before, row.after) == (0, 0)
    assert ".zip" not in row.file and ".jar" not in row.file
    assert row.version == spark.version


def test_workers_import_the_package_from_any_working_directory(tmp_path):
    """A driver started outside the repo root (no PYTHONPATH) runs a
    query whose Python workers call a package kernel (dedup_clusters:
    ``functions/dedup.py::_local_union_find``, pickled by reference).
    The workers find ``rstreams_spark`` through the session's executor
    PYTHONPATH, not the working directory."""
    from conftest import SF_SMOKE

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = f"""
import sys
sys.path.insert(0, {ROOT!r})
from rstreams_spark.queries import REGISTRY
from rstreams_spark.session import get_spark

spark = get_spark("any-cwd")
spark.sparkContext.setLogLevel("ERROR")
print("ROWS", REGISTRY["dedup_clusters"](spark, {SF_SMOKE!r}).count())
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(TMPDIR=str(tmp), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    p = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                       env=env, cwd=tmp_path, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    assert "ModuleNotFoundError" not in p.stderr
    assert int(p.stdout.split("ROWS")[-1]) > 0
