"""Sinks: Kafka (+ DLQ error topic), parquet, console, memory, noop,
and the valid/error split writer.

Parity target: topology/TopologyBuilder.java:38-49 — valid records
→ output topic, invalid records → error topic with provenance
headers, originals never lost. In Spark the split happens inside
``foreachBatch`` with the micro-batch persisted so the source is
read once per trigger, not once per branch.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from maston_spark.config import KafkaConfig
from maston_spark.validated import ERR, OK, branch_valid, safe_serialize_json, with_error_headers


def to_kafka_records(
    df: DataFrame,
    key_col: str | None = None,
    value_col: str = "value_out",
    headers_col: str | None = "headers",
) -> DataFrame:
    """Project to the kafka-sink schema: key/value binary [+ headers]."""
    cols = []
    if key_col is not None:
        cols.append(F.col(key_col).cast("binary").alias("key"))
    cols.append(F.col(value_col).cast("binary").alias("value"))
    if headers_col is not None and headers_col in df.columns:
        cols.append(F.col(headers_col).alias("headers"))
    return df.select(*cols)


def write_kafka_stream(
    df: DataFrame,
    cfg: KafkaConfig,
    topic: str,
    checkpoint: str,
    output_mode: str = "append",
    trigger: dict | None = None,
):
    """Start a streaming Kafka sink (expects kafka record shape)."""
    writer = df.writeStream.format("kafka").outputMode(output_mode).option(
        "checkpointLocation", checkpoint
    )
    for k, v in cfg.sink_options(topic).items():
        writer = writer.option(k, v)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def split_sink_batch(
    df: DataFrame,
    write_valid: Callable[[DataFrame], None],
    write_error: Callable[[DataFrame], None],
    app_id: str = "maston-spark",
    serialize: Callable[[DataFrame], DataFrame] | None = None,
    log_produced: bool = False,
    batch_id: int = -1,
) -> dict[str, int]:
    """One micro-batch (or batch job) through the reference topology's
    fan-out: serialize safely, attach provenance headers to errors,
    route. Returns counts for metrics, both taken by one aggregate
    job. ``persist`` guarantees the upstream compute runs once even
    though the counts and two sinks consume it.

    ``serialize`` picks the value serializer (default JSON; pass
    ``lambda d: safe_serialize_avro(d, schema, schema_id)`` for the
    reference's registry-framed Avro produce side). ``log_produced``
    enables the producer-interceptor sample
    (:func:`maston_spark.observability.log_produced_records`) on the
    valid branch right before the sink write.
    """
    ser = serialize or safe_serialize_json
    prepared = ser(with_error_headers(df, app_id=app_id)).persist()
    try:
        valid, invalid = branch_valid(prepared)
        n_ok, n_all = prepared.agg(
            F.count(F.when(F.col(ERR).isNull(), 1)), F.count(F.lit(1))
        ).first()
        if log_produced:
            from maston_spark.observability import log_produced_records

            log_produced_records(valid, batch_id)
        write_valid(valid)
        write_error(invalid)
        return {"valid": n_ok, "error": n_all - n_ok}
    finally:
        prepared.unpersist()


def foreach_batch_split(
    write_valid: Callable[[DataFrame], None],
    write_error: Callable[[DataFrame], None],
    app_id: str = "maston-spark",
    on_metrics: Callable[[int, dict[str, int]], None] | None = None,
    serialize: Callable[[DataFrame], DataFrame] | None = None,
    log_produced: bool = False,
):
    """Build the ``foreachBatch`` function for a validated stream."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        counts = split_sink_batch(
            batch_df, write_valid, write_error, app_id=app_id, serialize=serialize,
            log_produced=log_produced, batch_id=batch_id,
        )
        if on_metrics is not None:
            on_metrics(batch_id, counts)

    return fn


def parquet_sink(df: DataFrame, path: str, checkpoint: str, **options):
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    for k, v in options.items():
        writer = writer.option(k, str(v))
    return writer.start()


def console_sink(df: DataFrame, checkpoint: str, truncate: bool = False, num_rows: int = 20):
    return (
        df.writeStream.format("console")
        .option("checkpointLocation", checkpoint)
        .option("truncate", str(truncate).lower())
        .option("numRows", str(num_rows))
        .start()
    )


def memory_sink(df: DataFrame, name: str, checkpoint: str, output_mode: str = "append"):
    """Memory sink for tests — results readable as table ``name``."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def noop_write(df: DataFrame) -> None:
    """Materialize fully without collecting (bench / smoke)."""
    df.write.format("noop").mode("overwrite").save()
