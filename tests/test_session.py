"""Session factory: the driver JVM's initial heap."""

from __future__ import annotations

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
