"""Session factory: the initial JVM heap and the Python
worker daemon."""

from __future__ import annotations

import os
import sys
import zipfile

import pytest

from maston_spark.session import _initial_heap_option


@pytest.mark.parametrize(
    "memory, option",
    [
        ("8g", "-Xms2048m"),
        ("8G", "-Xms2048m"),
        ("2gb", "-Xms512m"),
        ("512m", "-Xms128m"),
        ("8192", "-Xms2048m"),  # a bare number is MiB, as in Spark
        ("1t", "-Xms262144m"),
    ],
)
def test_initial_heap_is_a_quarter_of_driver_memory(memory, option):
    assert _initial_heap_option(memory) == option


def test_driver_jvm_starts_with_initial_heap(spark):
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    want = _initial_heap_option(spark.sparkContext.getConf().get("spark.driver.memory"))
    assert want in args


def test_worker_imports_pyspark_outside_archives(spark):
    """A Python task imports pyspark from a plain directory and holds
    no zipimporter, so the per-task ``importlib.invalidate_caches()``
    re-reads no archive."""

    def origin(_batches):
        import zipimport

        import pandas as pd
        import pyspark

        cache = sys.path_importer_cache.values()
        zips = sum(isinstance(f, zipimport.zipimporter) for f in cache)
        yield pd.DataFrame({"pyspark_file": [pyspark.__file__], "zipimporters": [zips]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(origin, "pyspark_file string, zipimporters long")
        .collect()
    )
    assert rows, "the task must report its origin"
    for r in rows:
        parts = r.pyspark_file.split(os.sep)
        assert not any(p.endswith((".zip", ".jar")) for p in parts), r.pyspark_file
        assert r.zipimporters == 0, r


def _fake_pyspark_zip(path: str, version: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return path


def _plain_dirs() -> list:
    return [p for p in sys.path if p and not p.endswith((".zip", ".jar"))]


def test_daemon_shim_strips_archives_of_the_installed_version(monkeypatch, tmp_path):
    """Spark's archives (a pyspark zip of the installed version and a
    jar) leave the path and the importer cache; nothing else does."""
    import pyspark

    from maston_spark._worker_daemon import strip_spark_archives

    archive = _fake_pyspark_zip(str(tmp_path / "pyspark.zip"), pyspark.__version__)
    jar = str(tmp_path / "spark-core.jar")
    rest = _plain_dirs()
    monkeypatch.setattr(sys, "path", [archive, jar, *rest])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    assert strip_spark_archives()
    assert sys.path == rest
    assert not [k for k in sys.path_importer_cache if k.startswith(str(tmp_path))]


@pytest.mark.parametrize("installed", [True, False], ids=["other-version", "absent"])
def test_daemon_shim_keeps_stock_path_without_same_version_pyspark(
    monkeypatch, tmp_path, installed
):
    """With no archive-free pyspark of the archive's version on the
    rest of the path, the daemon runs on the path it was given."""
    from maston_spark._worker_daemon import strip_spark_archives

    archive = _fake_pyspark_zip(str(tmp_path / "pyspark.zip"), "0.0.1")
    rest = _plain_dirs() if installed else [str(tmp_path)]
    path = [archive, *rest]
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    assert not strip_spark_archives()
    assert sys.path == path


def test_codegen_cache_keeps_a_query_compiled_across_other_plans(spark):
    """A query's generated classes survive ~150 other distinct plans
    in between, so re-running it compiles nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def first():
        return spark.range(10).selectExpr("id * 7 AS x").filter("x % 2 = 0").collect()

    first()
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    first()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiled, "a warm re-run compiled"
    for i in range(150):
        spark.range(2).selectExpr(f"id + {i + 1000}").collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() > compiled, "the other plans compiled"
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    first()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiled
