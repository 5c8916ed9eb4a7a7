"""Unit tests for the status-store attribution helper.

Run from the root of a checkout::

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from attribution import Attribution, driver_gap_s, parse_metric, union_seconds  # noqa: E402


def test_parse_metric_reads_the_total():
    text = "total (min, med, max (stageId: taskId))\n808.6 KiB (101.1 KiB, 1 KiB)"
    assert parse_metric(text) == pytest.approx(808.6 * 1024)
    assert parse_metric("total (min, med, max)\n6.9 s (151 ms, 1.4 s, 1.7 s)") == 6.9
    assert parse_metric("total\n151 ms (1 ms)") == pytest.approx(0.151)
    assert parse_metric("1234") == 1234.0
    assert parse_metric("n/a") == 0.0


def test_union_seconds_merges_overlaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert union_seconds([(0, 1000), (100, 200)]) == 1.0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-attribution-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_job_stats_on_a_tiny_job(spark):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    attr = Attribution(spark)
    df = (
        spark.range(2000)
        .repartition(4)
        .mapInPandas(lambda it: it, "id long")
        .groupBy((F.col("id") % 3).alias("m"))
        .count()
    )
    sc.setJobGroup("attr-test", "tiny job")
    t0 = time.time()
    first = sorted(r.m for r in df.collect())
    rdd = df.rdd
    rdd.count()
    rdd.count()  # same shuffle again: its map stages are skipped
    wall = time.time() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert first == [0, 1, 2]

    jobs = attr.jobs_in_group("attr-test")
    assert len(jobs) >= 3
    st = attr.job_stats(jobs)
    assert st["jobs"] == len(jobs)
    assert st["stages"] >= 3
    assert st["stages_skipped"] >= 1
    assert st["tasks"] >= 4
    assert st["run_s"] > 0 and st["cpu_s"] > 0
    assert st["offcpu_s"] == pytest.approx(max(0.0, st["run_s"] - st["cpu_s"]))
    assert st["shuffle_bytes"] > 0
    assert st["spill_bytes"] == 0
    assert st["python_bytes"] > 0 and st["python_s"] > 0
    assert 0 < st["stage_s"] <= wall + 1.0
    assert driver_gap_s(wall, st) == pytest.approx(max(0.0, wall - st["stage_s"]))

    # a time window around the run finds the same jobs
    assert attr.jobs_between("attr-test", t0 * 1e3 - 1, time.time() * 1e3 + 1) == jobs
    assert attr.jobs_between("attr-test", 0, t0 * 1e3 - 10_000) == []
    assert attr.job_stats([])["jobs"] == 0
