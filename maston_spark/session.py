"""SparkSession factory + table loaders for the maston-spark engine.

Scale notes (100 TB design intent, tested on ``local[<cores>]``):

- AQE is on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast demotion all matter far more at
  1000-executor scale than on local mode, and cost nothing here.
- ``spark.sql.session.timeZone=UTC`` pins timestamp semantics so
  results are reproducible across engines (the DuckDB oracle reads
  the same parquet with naive/UTC timestamps).
- The local master runs one task slot per core this process may use
  (``SPARK_GRAFT_CPUS`` overrides it), so ``defaultParallelism`` is
  the core count. Explicit exchanges (the delta fold, the prefix-rank
  operators, the ``llm.*`` repartitions) are sized to it.
- Shuffle partitions stay at 32 for the exchanges Catalyst plans; AQE
  coalesces them at runtime. A real cluster deployment overrides this
  (or lets AQE coalesce from a high initial number, e.g. 2000 for
  100 TB inputs).
- Python workers start from :mod:`maston_spark._worker_daemon`, which
  imports pyspark from outside ``pyspark.zip`` so a task pays no
  per-task zip re-read. It is set only when workers can import this
  package (they start in this process's working directory with its
  ``PYTHONPATH``).
- The driver JVM (in local mode also the executor) starts with a
  quarter of ``spark.driver.memory`` as its heap instead of the JVM
  default of 1/64 of physical RAM. A short first micro-batch can
  leave G1 at ~650 MB against a ~350-400 MB live set. Each humongous
  allocation then starts a concurrent mark, and the next batches run
  with 20-40 GC cycles each until G1 grows the heap. Whether G1 grows
  it in the first batch or three batches later decided the early
  batches' latency from one run to the next.
- Generated classes are cached by their source text in a cache of
  1000 entries (Spark's default is 100). It serves a session that
  cycles through more generated classes than the cache holds. A
  perfbench ``batch_llm`` pass (seven queries at sf0.1) compiled
  166-180 classes (q41 32-37, q153 37, q273 35-42, q264 35-36, q48
  19-23, q120 4, q45 2-3) and a ``batch_sql`` pass 97-111, each in a
  fixed order, so at 100 entries the LRU evicted every class before
  its next use: each pass recompiled them all, and the fresh classes
  ran interpreted until the JIT compiled them again. At 1000 a repeated
  pass compiles 0-6. The delta stream (50 classes in its first batch,
  17 in its second, 0 after) and the monitors fit either size.
"""

from __future__ import annotations

import os
import site

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


def _engine_on_worker_path() -> bool:
    """Whether a local Python worker can import ``maston_spark``: the
    daemon runs ``python -m`` in this process's working directory with
    its ``PYTHONPATH``, on top of its own site-packages."""
    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    entries = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and os.path.realpath(p) == root for p in entries + site.getsitepackages())


def build_session(app_name: str = "maston-spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
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
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if _engine_on_worker_path():
        builder = builder.config("spark.python.daemon.module", "maston_spark._worker_daemon")
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
