"""SparkSession factory + table loaders for the maston-spark engine.

Scale notes (100 TB design intent, tested on local[32]):

- AQE is on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast demotion all matter far more at
  1000-executor scale than on local mode, and cost nothing here.
- ``spark.sql.session.timeZone=UTC`` pins timestamp semantics so
  results are reproducible across engines (the DuckDB oracle reads
  the same parquet with naive/UTC timestamps).
- Shuffle partitions default to 32 for local runs; a real cluster
  deployment overrides this (or lets AQE coalesce from a high
  initial number, e.g. 2000 for 100 TB inputs).
- The driver JVM (in local mode also the executor) starts with a
  quarter of ``spark.driver.memory`` as its heap instead of the JVM
  default of 1/64 of physical RAM. A short first micro-batch can
  leave G1 at ~650 MB against a ~350-400 MB live set. Each humongous
  allocation then starts a concurrent mark, and the next batches run
  with 20-40 GC cycles each until G1 grows the heap. Whether G1 grows
  it in the first batch or three batches later decided the early
  batches' latency from one run to the next.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_MEM_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _initial_heap_option(memory: str) -> str:
    """``-Xms`` option for a quarter of a Spark memory string
    (``"8g"``, ``"512m"``; a bare number is MiB, as in Spark)."""
    s = memory.strip().lower().removesuffix("b")
    num, unit = (s[:-1], s[-1]) if s[-1:] in _MEM_UNITS else (s, "m")
    return f"-Xms{int(num) * _MEM_UNITS[unit] // 4 >> 20}m"


def build_session(app_name: str = "maston-spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", _initial_heap_option(driver_mem))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table from a scale-factor directory.

    Plain ``spark.read.parquet`` so Catalyst keeps full pushdown /
    pruning ability; at cluster scale the same call reads a
    partitioned directory tree and prunes partitions from filters.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read the raw int64 nanos and truncate to
        # microseconds (exactly what DuckDB's ns→µs cast does).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            from pyspark.sql import functions as F

            df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            if dict(df.dtypes).get("ts") == "bigint":
                # integer division — double division would lose precision
                # on 1.7e18-magnitude nanosecond values
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            return df
        finally:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
