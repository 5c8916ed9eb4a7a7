"""The two reference topologies, re-expressed as Structured
Streaming pipelines.

1. ``simple_validated_topology`` ≙ TopologyBuilder.buildVavrKStreamTopology
   (topology/TopologyBuilder.java:30-50): source → safe deserialize →
   process → branch → valid records to the output sink, invalid
   records to the error sink with provenance headers and the original
   bytes preserved.
2. ``delta_topology`` ≙ buildVavrKStreamWithDeltaTopology
   (topology/TopologyBuilder.java:53-90): source → safe deserialize →
   re-key by a recomputed business key → keyed delta state
   (emit-iff-updated) → branch → sinks.

Both return a started ``StreamingQuery`` driven by ``foreachBatch``
so the valid/error fan-out scans each micro-batch exactly once
(persist inside the batch). Sinks are injected callables — Kafka in
production (:func:`maston_spark.sinks.to_kafka_records` +
``.write.format("kafka")``), parquet/memory in tests — mirroring how
the reference injects Produced/topic names.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from maston_spark.delta import delta_dedup_fold
from maston_spark.observability import with_record_logging
from maston_spark.sinks import foreach_batch_split
from maston_spark.validated import (
    OK,
    distinct_schema_ids,
    safe_from_avro_arrow,
    safe_from_avro_evolving,
    safe_from_json,
)


def _parse_validated(source: DataFrame, value_col: str, value_schema, value_format: str) -> DataFrame:
    """Serde dispatch for the topologies — the analogue of the
    reference's two consumer entry points:
    ``SimpleAvroStreamConsumer.buildAndStartWithValidation`` (its
    primary API, registry-framed Avro) and the JSON variant.
    ``value_schema`` is a DDL/StructType for json, a parsed Avro
    schema dict for avro (resolve via
    :func:`maston_spark.registry.resolve_avro_schema` when a Schema
    Registry holds it). For ``avro-evolving`` — a topic with multiple
    live schema versions, the Confluent serde's normal operating mode
    (serdes/VavrSafeSerdesBuilder.java:17-23) — ``value_schema`` is
    ``(reader_schema, {schema_id: writer_schema})``; records dispatch
    per the frame's schema id and resolve to the reader shape."""
    if value_format == "json":
        return safe_from_json(
            source.withColumn(value_col, F.col(value_col).cast("string")),
            value_col,
            value_schema,
        )
    if value_format == "avro":
        return safe_from_avro_arrow(
            source.withColumn(value_col, F.col(value_col).cast("binary")),
            value_col,
            value_schema,
        )
    if value_format == "avro-evolving":
        reader, writers_by_id = value_schema
        return safe_from_avro_evolving(
            source.withColumn(value_col, F.col(value_col).cast("binary")),
            value_col,
            reader,
            writers_by_id,
        )
    raise ValueError(f"unsupported value_format {value_format!r}")


def _start_foreach_batch(df: DataFrame, fn, checkpoint: str, trigger: dict | None):
    writer = df.writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def _state_versions(spark, state_dir: str) -> list[int]:
    """List committed state versions (``v<N>`` subdirs) via the Hadoop
    FileSystem API, so the state table works on local FS, HDFS, or
    object stores alike."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            out.append(int(name[1:]))
    return sorted(out)


def _drop_state_versions(spark, state_dir: str, versions: list[int]) -> None:
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    for v in versions:
        fs.delete(jvm.org.apache.hadoop.fs.Path(state_dir, f"v{v}"), True)


# Curation-state segment layout (curation_topology only — the other
# topologies' state IS a bounded sketch, so their full-rewrite v<N>
# snapshots are already O(sketch), not O(history)):
#   d<N>  per-batch DELTA — only batch N's accepted rows
#   c<N>  COMPACTED run — the merged live rows of every segment < N+1
#   v<N>  legacy full snapshot (pre-segment layout), read-compatible
# A batch appends one delta (O(batch) write); a compaction pass folds
# accumulated segments into one run so the reader's file count stays
# bounded. Rows carry their accepting batch id in column `b`, which
# is what makes age-based retention a row filter rather than a
# file-granularity guess.
#
# round-17 (guide §6 small-files): every BOUNDED state write —
# curation deltas/compactions and the sketch topologies' v<N>
# snapshots — lands as ONE part file (coalesce(1)); a sketch-sized
# frame written at shuffle parallelism was ~16 part files, and the
# next batch's state read paid the listing + per-file footer cost.
# delta_topology's active-key snapshot and vocab_saturation's vocab
# counts are NOT coalesced: those states grow with the key domain.
# The delta snapshot still lands as at most one file per core: the
# window that picks it reuses the fold's exchange, which
# delta_dedup_fold sizes to defaultParallelism (AQE may coalesce the
# write further).
_SEG_KINDS = ("v", "d", "c")


def _curation_segments(spark, state_dir: str) -> list[tuple[str, int]]:
    """Live curation state segments as sorted ``(kind, id)`` pairs."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name[:1] in _SEG_KINDS and name[1:].isdigit():
            out.append((name[:1], int(name[1:])))
    return sorted(out, key=lambda kv: (kv[1], kv[0]))


def _drop_segments(spark, state_dir: str, segs: list[tuple[str, int]]) -> None:
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    for kind, v in segs:
        fs.delete(jvm.org.apache.hadoop.fs.Path(state_dir, f"{kind}{v}"), True)


def _read_curation_state(
    spark,
    state_dir: str,
    upto: int,
    retention: int | None,
    segs: list[tuple[str, int]] | None = None,
):
    """The curation state visible to batch ``upto``: union of every
    live segment with id < upto, row-filtered to accepting batch
    ``b`` < upto (belt and braces for the retry corner: a batch must
    never see its own failed attempt's rows) and, with retention R,
    ``b >= upto - R`` (batch B probes only the R most recent
    batches). Returns None when no state exists. The union is a SET
    (dropDuplicates on the content hash), so a crash between a
    compaction write and the consumed-segment delete — which leaves
    the same rows visible twice — is harmless."""
    from functools import reduce

    if segs is None:
        segs = _curation_segments(spark, state_dir)
    segs = [s for s in segs if s[1] < upto]
    frames = []
    for kind, sid in segs:
        df = spark.read.parquet(f"{state_dir}/{kind}{sid}")
        if "b" not in df.columns:
            # legacy v<N> snapshot: no per-row batch id; every row was
            # committed by batch N at the latest
            df = df.withColumn("b", F.lit(sid).cast("long"))
        frames.append(df)
    if not frames:
        return None
    st = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    ).filter(F.col("b") < F.lit(upto))
    if retention is not None:
        st = st.filter(F.col("b") >= F.lit(upto - retention))
    return st.dropDuplicates(["__h"])


def _maybe_compact_curation_state(
    spark,
    state_dir: str,
    batch_id: int,
    retention: int | None,
    compact_every: int,
) -> None:
    """End-of-batch state maintenance. Two independent jobs:

    1. RETENTION SWEEP — whole delta segments older than the
       retention horizon (every row aged out) are deleted outright,
       no read needed (a delta's rows all share one ``b``).
    2. COMPACTION — once ``compact_every`` segments PRIOR to this
       batch accumulate, fold them into one run ``c<batch_id-1>`` so
       the per-batch state read stays bounded in file count. The
       current batch's own delta is never consumed (the retry corner:
       a retried batch must still see strictly-prior state), and the
       fold applies the retention filter relative to the NEXT batch,
       so aged rows leave disk here. Crash safety: the run is written
       before the consumed segments are deleted; a crash in between
       leaves rows visible twice, which the set-under-union read
       dedups. If ``c<batch_id-1>`` already exists (a retried batch
       re-compacting), compaction is SKIPPED rather than read-and-
       overwritten in place — the next batch folds it safely.
    """
    segs = [
        s for s in _curation_segments(spark, state_dir) if s[1] < batch_id
    ]
    if retention is not None:
        horizon = batch_id + 1 - retention  # rows probed by batch B+1
        dead = [s for s in segs if s[0] == "d" and s[1] < horizon]
        if dead:
            _drop_segments(spark, state_dir, dead)
            segs = [s for s in segs if s not in dead]
    if len(segs) < compact_every:
        return
    target = ("c", batch_id - 1)
    if target in segs:
        return
    # fold keeps exactly the rows this batch could still probe
    # (b >= batch_id - R); anything older is invisible to every
    # future batch too and leaves disk here
    merged = _read_curation_state(spark, state_dir, batch_id, retention, segs)
    if merged is None:
        return
    # one part file: the folded run is still bounded by the retention
    # window's accepted rows (round-17; guide §6 small-files)
    merged.coalesce(1).write.mode("overwrite").parquet(
        f"{state_dir}/{target[0]}{target[1]}"
    )
    _drop_segments(spark, state_dir, segs)


def _ensure_state_owner(spark, state_dir: str, checkpoint: str) -> None:
    """Guard against an explicit ``state_dir`` being reused with a
    FRESH checkpoint: batch ids restart at 0 there, so the previous
    run's ``v0`` would be mistaken for this run's own retry version
    (the retry corner in the batch fn) and wrongly suppress
    first-batch records. An ``_owner`` marker ties the state table to
    the checkpoint it belongs to; on mismatch the stale versions are
    dropped — a new checkpoint is a new stream, so its state starts
    empty. A restart of the SAME checkpoint matches the marker and
    keeps its durable state (that's the point of the table)."""
    jvm = spark._jvm
    base = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = base.getFileSystem(spark._jsc.hadoopConfiguration())
    owner = fs.makeQualified(jvm.org.apache.hadoop.fs.Path(checkpoint)).toString()
    marker = jvm.org.apache.hadoop.fs.Path(state_dir, "_owner")
    if fs.exists(marker):
        ins = fs.open(marker)
        try:
            existing = bytes(ins.readAllBytes()).decode("utf-8")
        finally:
            ins.close()
        if existing == owner:
            return
        _drop_segments(spark, state_dir, _curation_segments(spark, state_dir))
    out = fs.create(marker, True)
    try:
        out.write(bytearray(owner.encode("utf-8")))
    finally:
        out.close()


def simple_validated_topology(
    source: DataFrame,
    value_schema,
    *,
    app_id: str,
    checkpoint: str,
    write_valid: Callable[[DataFrame], None],
    write_error: Callable[[DataFrame], None],
    value_col: str = "value",
    processor: Callable[[DataFrame], DataFrame] | None = None,
    trigger: dict | None = None,
    on_metrics: Callable[[int, dict[str, int]], None] | None = None,
    emit_valid: bool = True,
    value_format: str = "json",
    log_records: bool = False,
    serialize=None,
):
    """Validated consumer: parse → (optional processor over the
    validated frame, e.g. :func:`maston_spark.validated.process_validated`)
    → split-sink. ``source`` is any streaming DataFrame with a string/
    binary ``value_col`` (Kafka or test source).

    ``emit_valid=False`` reproduces the reference topology exactly:
    successfully processed records terminate (the user processor is
    side-effecting there) and ONLY failures flow to the error sink
    (topology/TopologyBuilder.java:30-50 — valid branch ends at the
    post-process invalid filter). The default generalizes to the
    produce-both shape most Spark pipelines want."""
    validated = _parse_validated(source, value_col, value_schema, value_format)
    if processor is not None:
        validated = processor(validated)
    fn = foreach_batch_split(
        write_valid if emit_valid else (lambda df: None),
        write_error,
        app_id=app_id,
        on_metrics=on_metrics,
        serialize=serialize,
        log_produced=log_records,
    )
    if log_records:
        # parity: the enable/disable interceptor toggle of
        # KafkaPropertiesBuilder.java:77-82
        fn = with_record_logging(fn)
    return _start_foreach_batch(validated, fn, checkpoint, trigger)


def dynamic_avro_topology(
    source: DataFrame,
    client,
    subject: str,
    *,
    app_id: str,
    checkpoint: str,
    write_valid: Callable[[DataFrame], None],
    write_error: Callable[[DataFrame], None],
    value_col: str = "value",
    processor: Callable[[DataFrame], DataFrame] | None = None,
    trigger: dict | None = None,
    on_metrics: Callable[[int, dict[str, int]], None] | None = None,
    reader_schema: dict | None = None,
    log_records: bool = False,
    serialize=None,
):
    """Validated Avro consumer that resolves NEW writer schema ids at
    RUNTIME — no restart when a producer rolls out a schema version.

    Parity: the Confluent deserializer the reference wires in
    (serdes/VavrSafeSerdesBuilder.java:17-23) fetches unknown schema
    ids from the registry lazily as records arrive. The static
    topologies bake a fixed id set at start; here the serde moves
    INSIDE ``foreachBatch``: each micro-batch's distinct ids (one
    tiny JVM-side aggregate) resolve through the cached
    :class:`~maston_spark.registry.SchemaRegistryClient` driver-side,
    then the batch decodes with :func:`safe_from_avro_evolving`.
    Already-seen ids cost nothing (client cache); ids the registry
    doesn't know yet land in ``err`` THIS batch and retry resolution
    next batch — at-least-once semantics preserved either way.

    Scale: the per-batch driver work is O(distinct new ids), not
    O(records); executors still never talk to the registry.
    """
    reader = reader_schema or client.get_latest(subject).schema
    writers: dict[int, dict] = {}
    split = foreach_batch_split(
        write_valid, write_error, app_id=app_id, on_metrics=on_metrics,
        serialize=serialize, log_produced=log_records,
    )
    if log_records:
        split = with_record_logging(split)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        raw = batch_df.withColumn(value_col, F.col(value_col).cast("binary")).persist()
        try:
            for sid in distinct_schema_ids(raw, value_col):
                if sid not in writers:
                    try:
                        writers[sid] = client.get_by_id(sid).schema
                    except Exception:  # noqa: BLE001 — unknown id → err rows
                        pass
            validated = safe_from_avro_evolving(raw, value_col, reader, writers)
            if processor is not None:
                validated = processor(validated)
            split(validated, batch_id)
        finally:
            raw.unpersist()

    return _start_foreach_batch(source, fn, checkpoint, trigger)


def delta_topology(
    source: DataFrame,
    value_schema,
    *,
    app_id: str,
    checkpoint: str,
    business_key: Column | str,
    order_cols: Sequence[str],
    is_updated: Callable[[dict, dict], bool],
    write_valid: Callable[[DataFrame], None],
    write_error: Callable[[DataFrame], None],
    value_col: str = "value",
    trigger: dict | None = None,
    on_metrics: Callable[[int, dict[str, int]], None] | None = None,
    state_dir: str | None = "auto",
    value_format: str = "json",
    log_records: bool = False,
    serialize=None,
):
    """Delta consumer: parse → re-key by the recomputed business key
    → per-key emit-iff-updated → split-sink.

    The within-batch fold is :func:`maston_spark.delta.delta_dedup_fold`
    inside ``foreachBatch``: one exchange on the key into as many
    partitions as there are cores, then one linear ``mapInPandas``
    pass per partition. Cross-batch suppression state is DURABLE (the
    reference's store persists across the stream —
    topology/TopologyBuilder.java:66-69,87): the last accepted record
    per key lives in a compacted parquet state table under
    ``state_dir`` (default ``<checkpoint>/delta_state``), versioned
    per batch-id so a batch retry rewrites its own version
    idempotently instead of corrupting the table it reads. Each
    micro-batch seeds the fold with the stored record per key, so a
    record unchanged across two batches stays suppressed — the golden
    sequence of topology/VavrKStreamWithDeltaTopologyTest.java:312-331
    emits 0,2,3,5 regardless of how the records split into batches.

    Scale note: the state rewrite per batch is a full compaction of
    the active key set — one shuffle on the key plus a parquet write,
    parallel across executors, no driver materialization. For
    key-cardinality-bound state with TTL eviction prefer
    :func:`maston_spark.delta.delta_dedup_stream` /
    ``delta_dedup_tws`` (RocksDB state store) when the pipeline
    doesn't need the validated+DLQ fan-out of this topology.
    ``state_dir=None`` opts out (per-batch-only suppression).
    """
    key_col = (
        F.col(business_key) if isinstance(business_key, str) else business_key
    ).alias("__business_key")
    validated = _parse_validated(
        source, value_col, value_schema, value_format
    ).withColumn("__business_key", key_col)
    # the fold sorts by flat column names only — materialize
    # (possibly nested) order expressions as temp columns
    ord_aliases = [f"__ord_{i}" for i in range(len(order_cols))]
    for alias, c in zip(ord_aliases, order_cols):
        validated = validated.withColumn(alias, F.col(c) if isinstance(c, str) else c)

    split = foreach_batch_split(
        write_valid, write_error, app_id=app_id, on_metrics=on_metrics,
        serialize=serialize, log_produced=log_records,
    )
    sdir = f"{checkpoint.rstrip('/')}/delta_state" if state_dir == "auto" else state_dir
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)
    SEQ = "__seq"  # 0 = state seed (sorts before every batch row)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        accepted = None
        try:
            # invalid rows bypass the delta state entirely (the
            # reference's branch happens before the transformer)
            invalid = batch_df.filter(F.col("err").isNotNull())
            valid = batch_df.filter(F.col("err").isNull() & F.col(OK).isNotNull())
            if sdir is None:
                deduped = delta_dedup_fold(
                    valid, ["__business_key"], ord_aliases, is_updated
                )
                split(deduped.unionByName(invalid).drop(*ord_aliases), batch_id)
                return

            combined = valid.withColumn(SEQ, F.lit(1))
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            # Retry corner: a crash after cleanup but before the
            # checkpoint commit leaves only this batch's own version;
            # seeding from it keeps already-stored records suppressed
            # (at-least-once delivery still holds). Reading and then
            # overwriting the same path needs the seed materialized
            # first — localCheckpoint cuts the lineage eagerly.
            seed_v = prior[-1] if prior else (batch_id if batch_id in versions else None)
            if seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                if seed_v == batch_id:
                    seed = seed.localCheckpoint(eager=True)
                combined = combined.unionByName(seed.withColumn(SEQ, F.lit(0)))
            accepted = delta_dedup_fold(
                combined, ["__business_key"], [SEQ, *ord_aliases], is_updated
            ).persist()
            # last accepted per key (seed included, so idle keys keep
            # their state) becomes the next compacted state version
            w = Window.partitionBy("__business_key").orderBy(
                F.col(SEQ).desc(), *[F.col(a).desc_nulls_last() for a in ord_aliases]
            )
            new_state = (
                accepted.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", SEQ)
            )
            new_state.write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            emitted = accepted.filter(F.col(SEQ) == 1).drop(SEQ)
            split(emitted.unionByName(invalid).drop(*ord_aliases), batch_id)
            # old versions are only dropped after the sinks consumed
            # this batch; a crash before this point leaves extra
            # versions behind, which the next batch ignores (reads
            # max(version < batch_id)) — never a correctness issue
            _drop_state_versions(spark, sdir, prior)
        finally:
            if accepted is not None:
                accepted.unpersist()
            batch_df.unpersist()

    if log_records:
        fn = with_record_logging(fn)
    return _start_foreach_batch(validated, fn, checkpoint, trigger)


def curation_topology(
    source: DataFrame,
    value_schema,
    ref_corpus: DataFrame,
    *,
    app_id: str,
    checkpoint: str,
    write_valid: Callable[[DataFrame], None],
    write_error: Callable[[DataFrame], None],
    value_col: str = "value",
    id_col: str = "doc_id",
    text_col: str = "text",
    gate_kwargs: dict | None = None,
    bloom_m: int = 1 << 20,
    bloom_hashes: int = 2,
    state_dir: str | None = "auto",
    trigger: dict | None = None,
    on_metrics: Callable[[int, dict[str, int]], None] | None = None,
    value_format: str = "json",
    serialize=None,
    neardup: bool = False,
    minhash_n: int = 16,
    band_size: int = 4,
    shingle_n: int = 3,
    neardup_tau: float = 0.7,
    state_retention_batches: int | None = None,
    compact_every: int = 8,
):
    """Streaming CURATION pipeline — the maston validated-ingest
    semantics fused with the LLM-corpus curation battery, per batch:

    1. safe deserialize (``value_format``) — parse failures carry the
       reference ``err`` struct;
    2. :func:`maston_spark.llm.text.gopher_gate` quality battery —
       rule failures become ``err`` rows
       (``QualityGateRejected``, ordered fail reasons in the message);
    3. incremental dedup against the historical corpus AND everything
       this stream already accepted: Bloom-bitmap probe (fixed-size,
       executor-local — no shuffle for the clean majority) →
       exact-confirm hash join for probe hits → within-batch
       first-copy-wins; duplicates become ``err`` rows
       (``DuplicateRecord``);
    4. the reference fan-out (:func:`maston_spark.sinks.split_sink_batch`):
       survivors serialize to the valid sink, every reject reaches the
       DLQ with the 11 ``maston.error.*`` provenance headers — one
       error channel for parse, quality, and duplicate rejects alike.

    Cross-batch dedup state is DURABLE: accepted (content-hash,
    bloom positions[, signature, bands]) rows live in a SEGMENTED
    parquet table under ``state_dir`` (default
    ``<checkpoint>/curation_state``). Each batch appends ONE delta
    segment holding only its own accepted rows — the state write is
    O(batch), never O(history) (the pre-round-11 layout rewrote the
    full accepted set every batch, the reference's unbounded-store
    flaw with an extra linear rewrite on top,
    topology/TopologyBuilder.java:66-69); a retry overwrites its own
    delta idempotently (state is a set under union). Once
    ``compact_every`` segments accumulate, one compaction pass folds
    all prior segments into a single run so the per-batch read stays
    bounded in file count. ``state_retention_batches=R`` bounds the
    state's VOLUME: batch B probes only rows accepted in the last R
    batches (rows carry their accepting batch id), and compaction
    physically drops older rows — the documented tradeoff being
    recall, not correctness: a duplicate of content accepted more
    than R batches ago is re-accepted (same contract as any TTL'd
    dedup state, delta_topology's ``state_ttl_ms`` applied to
    curation). The driver-resident bitmap accretes each batch's
    accepted positions via the same distributed per-partition OR fold
    as the reference-corpus build, and is replayed from the state
    table on restart — a doc accepted before a crash still suppresses
    its copies after recovery.

    Scale shape: the reference corpus is touched ONCE at topology
    start (bitmap build + exact-hash table, persisted); per batch the
    Bloom probe is a fixed ``m/8``-byte broadcast with no false
    negatives, so only probe-positive rows reach the hash join, and
    the join's right side is the hash table — hashes, never text. The
    bitmap never grows (FP rate, not memory, is what degrades as
    accepted docs accrete — size ``m`` for the corpus lifetime).

    With ``neardup=True`` stage 3 also rejects NEAR-duplicates
    (``NearDuplicateRecord``, reason ``near_duplicate``): each doc
    gets a ``minhash_n``-component MinHash signature over word
    ``shingle_n``-shingles, LSH band buckets (``band_size`` rows per
    band) are matched against the buckets of everything previously
    accepted (historical corpus + durable stream state), and a
    band-bucket hit is CONFIRMED by signature agreement ≥
    ``neardup_tau`` (the unbiased Jaccard estimate). Within a batch,
    the SMALLEST ID WINS among confirmed-similar eligible docs (an
    id-order tie-break, not arrival order — a micro-batch frame has
    no stable arrival order to key on; ties on id break by the
    composite gate key). Docs rejected against cross-batch state
    never enter state and do NOT suppress their batch-mates; the
    within-batch pass itself is single-hop and conservative — in an
    id-ordered similarity chain a→b→c (a∼b, b∼c, a≁c) both b and c
    are rejected, where a sequential scan would re-accept c. The
    conservative side errs toward dropping a borderline near-copy,
    never toward accepting a duplicate.
    The band buckets and signatures ride in the same versioned state
    table as the exact hashes; crucially the state is a SET under
    union (idempotent, unlike additive counters), so the versioned
    crash-retry overwrite is safe — the CMS-vs-KMV merge lesson
    (SCALE.md) applied to dedup state. State written before this
    feature existed lacks the columns and is read as empty arrays
    (older docs suppress exact copies only).

    Parity anchors: topology/TopologyBuilder.java:30-50 (validate →
    branch → DLQ shape), error/KafkaErrorToHeaderBuilder.java:16-26
    (headers); the curation stages follow Rae et al. 2021 (gate) and
    the Bloom-prefilter incremental dedup of
    :func:`maston_spark.llm.dedup.bloom_incremental_dedup`; the
    near-dup stage composes the q41/q152 MinHash-LSH pipeline
    (Broder 1997) incrementally.
    """
    import numpy as np

    from maston_spark import errors as E
    from maston_spark.llm.dedup import (
        _bloom_position,
        bloom_probe,
        build_bloom_bitmap,
        content_hash,
        fold_positions_bitmap,
    )
    from maston_spark.llm.text import gopher_gate
    from maston_spark.sinks import split_sink_batch
    from maston_spark.validated import ERR, _mk_err

    spark = source.sparkSession
    validated = _parse_validated(source, value_col, value_schema, value_format)
    sdir = (
        f"{checkpoint.rstrip('/')}/curation_state"
        if state_dir == "auto"
        else state_dir
    )
    if sdir is not None:
        _ensure_state_owner(spark, sdir, checkpoint)

    # reference-corpus structures build ONCE at topology start
    bitmap = np.frombuffer(
        build_bloom_bitmap(
            ref_corpus, text_col=text_col, m=bloom_m, n_hashes=bloom_hashes
        ),
        dtype=np.uint8,
    ).copy()
    ref_hashes = (
        ref_corpus.select(content_hash(F.col(text_col)).alias("__h"))
        .distinct()
        .persist()
    )
    if sdir is not None:
        # restart: replay accepted-doc bloom positions from the live
        # state segments (retention applies relative to the next
        # batch — aged-out rows stay out of the probe, by design)
        segs = _curation_segments(spark, sdir)
        if segs:
            nxt = max(sid for _, sid in segs) + 1
            prev = _read_curation_state(
                spark, sdir, nxt, state_retention_batches, segs
            )
            if prev is not None:
                bitmap |= np.frombuffer(
                    fold_positions_bitmap(
                        prev.select(F.explode("positions").alias("pos")),
                        bloom_m,
                    ),
                    dtype=np.uint8,
                )
    state = {"bitmap": bitmap}

    # ---- near-dup machinery (MinHash-LSH, incremental) ----
    # construction + confirm SHARED with the batch operator
    # (llm.dedup.incremental_neardup / q195), so the streaming path
    # and the oracle-graded path cannot drift apart
    from maston_spark.llm.dedup import sig_agreement_ge, sig_bands_frame

    def _sig_bands(df: DataFrame, text_expr, key_col: str) -> DataFrame:
        return sig_bands_frame(
            df.select(F.col(key_col), text_expr.alias("__ndtext")),
            key_col,
            "__ndtext",
            shingle_n,
            minhash_n,
            band_size,
        )

    def _sim_ge(a, b):
        return sig_agreement_ge(a, b, minhash_n, neardup_tau)

    ref_nd = None
    if neardup:
        # historical corpus band table, built once: (bucket key,
        # signature) — hash rows only, like ref_hashes. Keyed by
        # content hash: duplicate reference texts collapse to one
        # state row, which is exactly right for a dedup reference.
        ref_keyed = ref_corpus.select(
            F.md5(F.col(text_col)).alias("__rk"), F.col(text_col)
        )
        ref_nd = (
            _sig_bands(ref_keyed, F.col(text_col), "__rk")
            .select(
                F.col("__sig").alias("__ssig"),
                F.explode("__bands").alias("__bk"),
            )
            .persist()
        )

    id_of = F.col(OK)[id_col]
    text_of = F.coalesce(F.col(OK)[text_col], F.lit(""))
    norm = F.lower(F.trim(F.regexp_replace(text_of, r"\s+", " ")))
    positions = F.array(
        *[_bloom_position(norm, i, bloom_m) for i in range(bloom_hashes)]
    )
    helper_cols = [
        "__gid", "__keep", "__reasons", "__maybe", "__h", "__hh", "__hit",
        "__elig", "__rn", "__positions", "__near",
    ]

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        out = None
        cand = None
        xg = None
        try:
            # gate key = (id, content) composite: a batch can carry
            # the same doc id twice (at-least-once redelivery, or an
            # edited payload under the same id) — keying the verdict
            # on the id alone would fan the join out AND merge the
            # two payloads' repetition stats. The composite gives
            # each distinct payload its own verdict, joined back
            # without multiplying rows.
            gid = F.md5(
                F.concat_ws("\x00", id_of.cast("string"), text_of)
            )
            docs = (
                batch_df.filter(F.col(ERR).isNull() & F.col(OK).isNotNull())
                .select(
                    gid.alias("__gid"),
                    id_of.cast("string").alias("__id"),
                    text_of.alias(text_col),
                )
                .dropDuplicates(["__gid"])
            )
            verdict = gopher_gate(
                docs, id_col="__gid", text_col=text_col, **(gate_kwargs or {})
            ).select(
                "__gid",
                F.col("keep").alias("__keep"),
                F.col("fail_reasons").alias("__reasons"),
            )
            j = batch_df.join(verdict, gid == F.col("__gid"), "left")
            probed = bloom_probe(
                j,
                bytes(state["bitmap"]),
                text=text_of,
                m=bloom_m,
                n_hashes=bloom_hashes,
                out_col="__maybe",
            ).withColumn("__h", content_hash(text_of))

            # exact-confirm table: historical corpus + durable state.
            # Retry corner — deliberately NOT delta_topology's
            # self-seed: there, seeding from the batch's own version
            # only re-suppresses an already-stored record (harmless);
            # HERE it would reclassify every doc the failed attempt
            # accepted as a DuplicateRecord, so a crash between the
            # state write and the sink delivery would drop those docs
            # from the valid stream forever. Seeding strictly from
            # rows with b < batch_id (enforced inside
            # _read_curation_state) means a retried batch re-accepts
            # its own docs (at-least-once delivery to the valid sink —
            # the correct failure mode for ingest), and the own-delta
            # overwrite at the end of this function stays idempotent.
            hist = ref_hashes
            seed = None
            if sdir is not None:
                seed = _read_curation_state(
                    spark, sdir, batch_id, state_retention_batches
                )
                if seed is not None:
                    hist = ref_hashes.unionByName(
                        seed.select("__h")
                    ).distinct()
            hist_hits = hist.select(
                F.col("__h").alias("__hh"), F.lit(True).alias("__hit")
            )
            # equi-join on the hash, gated on the bloom verdict — only
            # probe-positive rows can match (bloom has no false
            # negatives, so this is exact overall)
            j2 = probed.join(
                hist_hits,
                (F.col("__h") == F.col("__hh")) & F.col("__maybe"),
                "left",
            )
            elig = (
                F.col(ERR).isNull()
                & F.col(OK).isNotNull()
                & F.coalesce("__keep", F.lit(False))
                & F.col("__hit").isNull()
            )
            w = Window.partitionBy("__h").orderBy(
                F.col("__elig").desc(), id_of.asc()
            )
            j3 = (
                j2.withColumn("__elig", elig)
                .withColumn("__rn", F.row_number().over(w))
            )

            if neardup:
                # near-dup verdicts over the exact-dedup SURVIVORS:
                # band-bucket equi-join against (historical corpus +
                # durable accepted state + earlier docs this batch),
                # confirmed by signature agreement — never all-pairs
                sb = _sig_bands(docs, F.col(text_col), "__gid").join(
                    docs.select("__gid", "__id"), "__gid"
                )
                elig_g = (
                    j3.filter(F.col("__elig") & (F.col("__rn") == 1))
                    .select("__gid")
                    .distinct()
                )
                cand = sb.join(elig_g, "__gid", "left_semi").persist()
                cx = cand.select(
                    "__gid", "__sig", F.explode("__bands").alias("__bk")
                )
                st_nd = ref_nd
                if seed is not None and "bands" in seed.columns:
                    st_nd = st_nd.unionByName(
                        seed.filter(F.col("bands").isNotNull()).select(
                            F.col("sig").alias("__ssig"),
                            F.explode("bands").alias("__bk"),
                        )
                    )
                cross_near = (
                    cx.join(st_nd, "__bk")
                    .filter(_sim_ge(F.col("__sig"), F.col("__ssig")))
                    .select("__gid")
                    .distinct()
                    .persist()  # tiny gid list, reused as a-side guard
                )
                xg = cross_near
                # a cross-rejected doc never enters state, so it must
                # not suppress batch-mates either (a doc similar ONLY
                # to it would otherwise drop with no accepted
                # near-copy anywhere)
                a_side = cand.join(cross_near, "__gid", "left_anti").select(
                    F.col("__gid").alias("__ga"),
                    F.col("__id").alias("__ia"),
                    F.col("__sig").alias("__siga"),
                    F.explode("__bands").alias("__bk"),
                )
                b_side = cand.select(
                    F.col("__gid").alias("__gb"),
                    F.col("__id").alias("__ib"),
                    F.col("__sig").alias("__sigb"),
                    F.explode("__bands").alias("__bk"),
                )
                within_near = (
                    a_side.join(b_side, "__bk")
                    .filter(
                        (F.col("__ia") < F.col("__ib"))
                        | (
                            (F.col("__ia") == F.col("__ib"))
                            & (F.col("__ga") < F.col("__gb"))
                        )
                    )
                    .filter(_sim_ge(F.col("__siga"), F.col("__sigb")))
                    .select(F.col("__gb").alias("__gid"))
                )
                near_gids = (
                    cross_near.unionByName(within_near)
                    .distinct()
                    .select(
                        F.col("__gid").alias("__ngid"),
                        F.lit(True).alias("__near"),
                    )
                )
                j3 = j3.join(
                    F.broadcast(near_gids),
                    j3["__gid"] == near_gids["__ngid"],
                    "left",
                ).drop("__ngid")
            else:
                j3 = j3.withColumn("__near", F.lit(None).cast("boolean"))
            # gopher_gate emits fail_reasons pre-joined as a string
            reasons = F.coalesce(F.col("__reasons"), F.lit("no_gate_verdict"))
            gate_err = _mk_err(
                code=F.lit(E.FAILED_TO_PROCESS_RECORD),
                message=F.concat(
                    F.lit("rejected by quality gate: "), reasons
                ),
                target_class=F.lit("curation"),
                exception_class=F.lit("QualityGateRejected"),
                exception_message=reasons,
                stacktrace=F.lit(None).cast("string"),
                raw_bytes=F.col(value_col).cast("binary"),
                source_record=F.col(OK),
            )
            dup_err = _mk_err(
                code=F.lit(E.FAILED_TO_PROCESS_RECORD),
                message=F.concat(
                    F.lit("duplicate content, hash "), F.col("__h")
                ),
                target_class=F.lit("curation"),
                exception_class=F.lit("DuplicateRecord"),
                exception_message=F.concat(
                    F.lit("duplicate of content hash "), F.col("__h")
                ),
                stacktrace=F.lit(None).cast("string"),
                raw_bytes=F.col(value_col).cast("binary"),
                source_record=F.col(OK),
            )
            near_err = _mk_err(
                code=F.lit(E.FAILED_TO_PROCESS_RECORD),
                message=F.concat(
                    F.lit("near_duplicate of accepted content, hash "),
                    F.col("__h"),
                ),
                target_class=F.lit("curation"),
                exception_class=F.lit("NearDuplicateRecord"),
                exception_message=F.lit(
                    "near_duplicate: minhash band-bucket hit confirmed by "
                    "signature agreement"
                ),
                stacktrace=F.lit(None).cast("string"),
                raw_bytes=F.col(value_col).cast("binary"),
                source_record=F.col(OK),
            )
            out = j3.withColumn(
                ERR,
                F.when(F.col(ERR).isNotNull(), F.col(ERR))
                .when(F.col(OK).isNull(), F.col(ERR))  # tombstones stay valid
                .when(~F.coalesce("__keep", F.lit(False)), gate_err)
                .when(
                    F.col("__hit").isNotNull()
                    | (F.col("__elig") & (F.col("__rn") > 1)),
                    dup_err,
                )
                .when(F.coalesce("__near", F.lit(False)), near_err),
            ).persist()

            accepted = (
                out.filter(F.col(ERR).isNull() & F.col(OK).isNotNull())
                .select("__gid", "__h", positions.alias("positions"))
                .dropDuplicates(["__h"])
            )
            if neardup:
                # join the PERSISTED candidate frame, not sb: accepted
                # docs are exactly the eligible rank-1 non-near rows,
                # i.e. a subset of elig_g, so their (sig, bands) rows
                # are all in cand — joining sb instead re-ran the whole
                # shingle+minhash construction once more per batch
                # (round-17, guide §5; docs with no shingles are
                # absent from sb AND cand identically — left join)
                accepted = accepted.join(
                    cand.select(
                        F.col("__gid").alias("__sgid"),
                        F.col("__sig").alias("sig"),
                        F.col("__bands").alias("bands"),
                    ),
                    accepted["__gid"] == F.col("__sgid"),
                    "left",
                ).drop("__sgid")
            accepted = accepted.drop("__gid")
            if sdir is not None:
                # O(batch) state write: ONLY this batch's accepted
                # rows, stamped with their accepting batch id — never
                # the accumulated history (that was the pre-segment
                # layout's full rewrite)
                # coalesce(1): the delta is O(batch) rows — one part
                # file keeps the per-batch state READ's file count
                # (listing + footers, which grow with history) minimal
                # (round-17; guide §6 small-files). Layout unchanged:
                # same segment names, schema, and row semantics.
                accepted.withColumn(
                    "b", F.lit(batch_id).cast("long")
                ).coalesce(1).write.mode("overwrite").parquet(
                    f"{sdir}/d{batch_id}"
                )
            counts = split_sink_batch(
                out.drop(*[c for c in helper_cols if c in out.columns]),
                write_valid,
                write_error,
                app_id=app_id,
                serialize=serialize,
                batch_id=batch_id,
            )
            if on_metrics is not None:
                # per-cause reject breakdown — the reference's
                # error-count metric (observability.py ↔
                # metrics/MicrometerService.java) refined by curation
                # stage: one slim agg over the persisted batch frame
                by_cause = {
                    r["__cause"]: r["__n"]
                    for r in out.filter(F.col(ERR).isNotNull())
                    .groupBy(
                        F.col(ERR)["exception_class"].alias("__cause")
                    )
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .collect()
                }
                counts["gate_rejected"] = by_cause.get(
                    "QualityGateRejected", 0
                )
                counts["duplicate"] = by_cause.get("DuplicateRecord", 0)
                counts["near_duplicate"] = by_cause.get(
                    "NearDuplicateRecord", 0
                )
                counts["parse_error"] = (
                    counts["error"]
                    - counts["gate_rejected"]
                    - counts["duplicate"]
                    - counts["near_duplicate"]
                )
            # accrete this batch's accepted positions into the probe
            # bitmap — same distributed per-partition OR as the build
            state["bitmap"] = state["bitmap"] | np.frombuffer(
                fold_positions_bitmap(
                    out.filter(F.col(ERR).isNull() & F.col(OK).isNotNull())
                    .select(F.explode(positions).alias("pos")),
                    bloom_m,
                ),
                dtype=np.uint8,
            )
            if on_metrics is not None:
                on_metrics(batch_id, counts)
            if sdir is not None:
                _maybe_compact_curation_state(
                    spark,
                    sdir,
                    batch_id,
                    state_retention_batches,
                    compact_every,
                )
        finally:
            if out is not None:
                out.unpersist()
            if cand is not None:
                cand.unpersist()
            if xg is not None:
                xg.unpersist()
            batch_df.unpersist()

    return _start_foreach_batch(validated, fn, checkpoint, trigger)


def sketch_metrics_topology(
    source: DataFrame,
    *,
    group_col: str,
    value_col: str,
    k: int,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    state_dir: str | None = "auto",
    trigger: dict | None = None,
):
    """Streaming cardinality monitoring: maintain a per-group KMV
    sketch across micro-batches and emit per-batch running
    distinct-count estimates ``(group, n_seen, n_distinct_est)`` —
    "how many distinct users has each event type touched SO FAR",
    answerable at any batch without ever storing the distinct set.

    The cross-batch state IS the sketch — at most ``groups × k``
    ``(g, h)`` hash rows, durable in a compacted parquet table under
    ``state_dir`` (default ``<checkpoint>/kmv_state``), versioned per
    batch id exactly like ``delta_topology``'s store (a batch retry
    rewrites its own version idempotently; restart resumes from the
    last committed version, so estimates never regress). Merging a
    batch is the KMV union property
    (:func:`maston_spark.sketches.kmv_truncate`): union the stored
    survivors with the batch's distinct hashes and re-keep the k
    minima — the result is bit-identical to sketching the whole
    history in one pass, which is what makes the emitted estimate
    deterministic and restart-invariant.

    Scale shape per batch: one distinct over (group, hash) — the only
    corpus-sized shuffle — then sketch-sized work: the merge window
    runs over ≤ state+batch-survivor rows per group, the state write
    is ≤ groups×k rows, the metrics frame ≤ |groups| rows.
    """
    from maston_spark.sketches import h60, kmv_estimate, kmv_truncate

    sdir = f"{checkpoint.rstrip('/')}/kmv_state" if state_dir == "auto" else state_dir
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    hashed = source.select(
        F.col(group_col).alias("g"), h60(F.col(value_col).cast("string")).alias("h")
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        combined = batch_df.dropDuplicates(["g", "h"])
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = prior[-1] if prior else (batch_id if batch_id in versions else None)
            if seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                if seed_v == batch_id:
                    seed = seed.localCheckpoint(eager=True)
                combined = combined.unionByName(seed)
        sk = kmv_truncate(combined, k).persist()
        try:
            if sdir is not None:
                sk.select("g", "h").coalesce(1).write.mode("overwrite").parquet(
                    f"{sdir}/v{batch_id}"
                )
            est = kmv_estimate(
                sk.select(F.col("g").alias(group_col), "h", "rn"), group_col, k
            )
            seen = sk.groupBy(F.col("g").alias(group_col)).agg(
                F.count(F.lit(1)).cast("long").alias("n_seen")
            )
            write_metrics(
                seen.join(est, group_col).select(
                    group_col, "n_seen", "n_distinct_est"
                ),
                batch_id,
            )
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior)
        finally:
            sk.unpersist()

    return _start_foreach_batch(hashed, fn, checkpoint, trigger)


def cms_watchlist_topology(
    source: DataFrame,
    *,
    item_col: str,
    watch: list[str],
    depth: int,
    width: int,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    state_dir: str | None = "auto",
    trigger: dict | None = None,
):
    """Streaming frequency monitoring: maintain a count-min sketch of
    ``item_col`` across micro-batches and emit, per batch, running
    frequency estimates for a fixed ``watch`` list — "how many times
    has each watched key appeared SO FAR" with state bounded at
    depth × width counter rows no matter how many distinct keys flow
    past (the complement of :func:`sketch_metrics_topology`'s
    cardinality monitor: that one asks how MANY distinct, this one
    asks HOW OFTEN for known keys).

    Cross-batch state IS the sketch grid (≤ d·w ``(seed, bucket,
    cnt)`` rows), durable in the same versioned compacted parquet
    layout as ``delta_topology``'s store; merging a batch is the CMS
    merge property — cell-wise SUM of the stored grid with the
    batch's grid — so every emitted estimate equals sketching the
    whole history at once, and ``est ≥ true`` (one-sided) holds at
    every batch.

    Scale shape per batch: the batch grid is ONE combiner-reduced
    aggregation (≤ d·w rows per task before the tiny shuffle); the
    merge touches 2·d·w rows; the probe joins the broadcast grid
    against the |watch|-row list.
    """
    from maston_spark.sketches import _cms_cells, cms_sketch

    sdir = f"{checkpoint.rstrip('/')}/cms_state" if state_dir == "auto" else state_dir
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    items = source.select(F.col(item_col).alias("item"))

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        g = cms_sketch(batch_df, "item", depth, width)
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = prior[-1] if prior else (batch_id if batch_id in versions else None)
            if seed_v is not None and seed_v == batch_id:
                # Retry corner: the stored v{batch_id} ALREADY contains
                # this batch's counts. Unlike delta's dedup fold or
                # KMV's set union, the CMS merge is ADDITIVE — merging
                # the recomputed batch grid on top would double-count —
                # so the stored grid is the whole truth: use it as-is.
                g = spark.read.parquet(f"{sdir}/v{batch_id}").localCheckpoint(
                    eager=True
                )
            elif seed_v is not None:
                from maston_spark.sketches import cms_merge

                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                g = cms_merge(g, seed)
        g = g.persist()
        try:
            if sdir is not None:
                g.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            probes = spark.createDataFrame(
                [(w,) for w in watch], "item string"
            )
            probe_cells = probes.select(
                "item", F.explode(_cms_cells(F.col("item"), depth, width)).alias("c")
            ).select(
                "item",
                F.col("c.seed").alias("seed"),
                F.col("c.bucket").alias("bucket"),
            )
            est = (
                probe_cells.join(F.broadcast(g), ["seed", "bucket"], "left")
                .select("item", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
                .groupBy("item")
                .agg(F.min("cnt").cast("long").alias("est_count"))
            )
            write_metrics(est, batch_id)
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior)
        finally:
            g.unpersist()

    return _start_foreach_batch(items, fn, checkpoint, trigger)


def quantile_metrics_topology(
    source: DataFrame,
    *,
    group_col: str,
    key_col: str,
    value_col: str,
    k: int,
    qs: list[float],
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    state_dir: str | None = "auto",
    trigger: dict | None = None,
):
    """Streaming quantile monitoring: maintain a per-group
    hash-sample quantile sketch across micro-batches and emit, per
    batch, running quantile estimates ``(group, qq, est_q)`` — "what
    do the p50/p95 of this metric look like over everything seen SO
    FAR", answerable at any batch with ``groups × k`` state and
    without ever sorting (or storing) the history.

    The cross-batch state IS the sketch
    (:func:`maston_spark.sketches.quantile_sample_sketch` — the k
    rows per group with the smallest row-key hashes, values
    carried), durable in the same versioned compacted parquet layout
    as ``delta_topology``'s store. Merging a batch is the bottom-k
    union property (:func:`maston_spark.sketches.
    quantile_sample_merge`): union the stored survivors with the
    batch's survivors and re-keep the k (h, value) minima — a SET
    identity, so every emitted estimate is bit-identical to
    sketching the whole history in one pass (the property
    :func:`kll_quantiles` deliberately trades away for better rank
    error per byte; monitoring wants restart-invariance). The
    idempotent-union property also makes the retry corner trivial:
    self-seeding from the batch's own crashed version cannot
    double-count, exactly the KMV-not-CMS state discipline.

    Scale shape per batch: the batch (not history) is hashed and
    bottom-k-folded inside its scan; the merge window runs over ≤
    state + batch-survivor rows per group; the state write is ≤
    groups × k rows; the metrics frame is |groups × qs| rows.
    """
    from maston_spark.sketches import (
        h60,
        quantile_sample_estimate,
        quantile_sample_merge,
    )

    sdir = (
        f"{checkpoint.rstrip('/')}/quantile_state"
        if state_dir == "auto"
        else state_dir
    )
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    hashed = source.select(
        F.col(group_col).alias("g"),
        h60(F.col(key_col).cast("string")).alias("h"),
        F.col(value_col).cast("double").alias("value"),
    ).filter(F.col("h").isNotNull() & F.col("value").isNotNull())

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy("g").orderBy("h", "value")
        batch_sk = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
        combined = batch_sk
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            # bottom-k union is idempotent, so self-seeding from this
            # batch's own crashed version is harmless (KMV-not-CMS)
            seed_v = (
                prior[-1]
                if prior
                else (batch_id if batch_id in versions else None)
            )
            if seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                if seed_v == batch_id:
                    seed = seed.localCheckpoint(eager=True)
                combined = quantile_sample_merge(batch_sk, seed, k)
        sk = combined.persist()
        try:
            if sdir is not None:
                sk.select("g", "h", "value").coalesce(1).write.mode("overwrite").parquet(
                    f"{sdir}/v{batch_id}"
                )
            write_metrics(
                quantile_sample_estimate(sk, "g", qs).withColumnRenamed(
                    "g", group_col
                ),
                batch_id,
            )
            if sdir is not None and prior:
                _drop_state_versions(spark, sdir, prior)
        finally:
            sk.unpersist()

    return _start_foreach_batch(hashed, fn, checkpoint, trigger)


def drift_monitor_topology(
    source: DataFrame,
    ref: DataFrame,
    *,
    value_col: str,
    n_bins: int,
    threshold: float,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    state_dir: str | None = "auto",
    trigger: dict | None = None,
):
    """Streaming distribution-drift monitor: bin every arriving value
    on the REFERENCE distribution's exact decile edges (computed once
    at topology start from the static ``ref`` frame), accumulate
    running per-bin counts across micro-batches, and emit per batch
    the binned total-variation distance between everything-seen-so-far
    and the reference — ``(n_stream, n_ref, tvd, drifted)`` with
    ``drifted = tvd > threshold``. The streaming twin of
    :func:`maston_spark.profiling.binned_tvd_drift` and the alert
    production pipelines actually page on ("has the feature
    distribution moved since training"), with n_bins cells of state
    no matter how many rows flow past.

    State discipline: the per-bin counters are ADDITIVE (the CMS
    case, not the KMV case), so the retry corner reads the batch's
    own stored version AS the whole truth instead of re-merging —
    re-adding a recomputed batch would double-count
    (:func:`cms_watchlist_topology`'s documented discipline). The
    reference pmf and edges are fixed at start; every emitted TVD is
    the exact cross-multiplied int64 statistic over
    (running counts, reference counts).
    """
    # edges / binning / merge / TVD arithmetic shared with the
    # oracle-graded batch twin (q201) via maston_spark.profiling —
    # the streaming path and the graded path cannot drift apart
    from maston_spark.profiling import (
        bucket_of_edges,
        ref_bin_edges,
        tvd_from_counts,
    )

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    sdir = (
        f"{checkpoint.rstrip('/')}/drift_state"
        if state_dir == "auto"
        else state_dir
    )
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    edges = ref_bin_edges(ref, value_col, n_bins)
    refv = ref.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("v")
    )

    # reference pmf: n_bins counts, computed once
    ref_counts = {
        r["bin"]: r["n"]
        for r in refv.groupBy(bucket_of_edges(F.col("v"), edges).alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    m_ref = [int(ref_counts.get(b, 0)) for b in range(n_bins)]
    n_ref_total = sum(m_ref)

    binned = source.filter(F.col(value_col).isNotNull()).select(
        bucket_of_edges(F.col(value_col).cast("double"), edges).alias("bin")
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        g = batch_df.groupBy("bin").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = (
                prior[-1]
                if prior
                else (batch_id if batch_id in versions else None)
            )
            if seed_v is not None and seed_v == batch_id:
                # additive counters: the stored version already holds
                # this batch — re-adding would double-count
                g = spark.read.parquet(f"{sdir}/v{batch_id}").localCheckpoint(
                    eager=True
                )
            elif seed_v is not None:
                from maston_spark.profiling import merge_bin_counts

                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                g = merge_bin_counts(g, seed)
        g = g.persist()
        try:
            if sdir is not None:
                g.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            stream_counts = {r["bin"]: r["n"] for r in g.collect()}
            n_i = [int(stream_counts.get(b, 0)) for b in range(n_bins)]
            n_tot = sum(n_i)
            tvd = tvd_from_counts(n_i, m_ref)
            write_metrics(
                spark.createDataFrame(
                    [(n_tot, n_ref_total, float(tvd), bool(tvd > threshold))],
                    "n_stream long, n_ref long, tvd double, drifted boolean",
                ),
                batch_id,
            )
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior)
        finally:
            g.unpersist()

    return _start_foreach_batch(binned, fn, checkpoint, trigger)


def hll_rolling_topology(
    source: DataFrame,
    *,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
    p: int = 8,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    state_dir: str | None = "auto",
    retention_days: int | None = None,
    trigger: dict | None = None,
):
    """Streaming rolling-window distinct monitoring: maintain per-DAY
    HyperLogLog registers across micro-batches and emit, per batch,
    the trailing-``window_days`` distinct-count estimate for every
    day in state — "7-day distinct users, updated every batch",
    without ever storing a distinct set. The streaming twin of the
    oracle-graded batch operator
    :func:`maston_spark.sketches.hll_rolling_distinct` (q225), the
    sixth member of the sketch-topology family (KMV, CMS watchlist,
    quantile metrics, drift monitor, curation).

    The cross-batch state is the register table — ≤ days×2^p
    ``(__day, bucket, mj)`` rows, durable in versioned parquet under
    ``state_dir`` (default ``<checkpoint>/hll_state``), versioned per
    batch id like the other stores. Merging a batch is the HLL union
    property: per-(day, bucket) MAX of stored and batch registers —
    MAX is IDEMPOTENT, so a crash-retry overwrite of the same
    version is harmless (the KMV-not-CMS discipline), and the merged
    state is bit-identical to sketching the whole history in one
    pass — which makes every emitted estimate equal to the batch
    twin's one-shot answer over the data so far (golden-tested).

    ``retention_days`` bounds state for unbounded streams: days older
    than the newest day minus ``retention_days`` are dropped at write
    time (they can no longer contribute to any emitted window once
    ``retention_days ≥ window_days``; smaller values trade old-window
    accuracy for state, the delta-TTL discipline).

    Scale shape per batch: ONE combiner-reduced register aggregation
    over the batch (the only corpus-sized work), then sketch-sized
    merges; the emit is the |days|-row grid against register rows.
    """
    from maston_spark.sketches import hll_raw_estimate, hll_registers

    sdir = f"{checkpoint.rstrip('/')}/hll_state" if state_dir == "auto" else state_dir
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    proj = source.select(
        F.date_trunc("day", F.col(ts_col)).cast("date").alias("__day"),
        F.col(value_col).alias("__v"),
    ).filter(F.col("__day").isNotNull() & F.col("__v").isNotNull())

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        combined = hll_registers(batch_df, "__day", "__v", p=p)
        prior: list[int] = []
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = prior[-1] if prior else (batch_id if batch_id in versions else None)
            if seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                if seed_v == batch_id:
                    seed = seed.localCheckpoint(eager=True)
                combined = combined.unionByName(seed)
        state = combined.groupBy("__day", "bucket").agg(
            F.max("mj").alias("mj")
        )
        if retention_days is not None:
            newest = state.agg(F.max("__day").alias("__newest"))
            state = (
                state.join(F.broadcast(newest))
                .filter(
                    F.datediff(F.col("__newest"), F.col("__day"))
                    < F.lit(int(retention_days))
                )
                .drop("__newest")
            )
        state = state.persist()
        try:
            if sdir is not None:
                state.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            days = state.select(F.col("__day").alias("day")).distinct()
            merged = (
                F.broadcast(days)
                .join(
                    state,
                    F.datediff(F.col("day"), F.col("__day")).between(
                        0, window_days - 1
                    ),
                )
                .groupBy("day", "bucket")
                .agg(F.max("mj").alias("mj"))
            )
            write_metrics(
                hll_raw_estimate(merged, ["day"], p=p).orderBy("day"), batch_id
            )
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior)
        finally:
            state.unpersist()

    return _start_foreach_batch(proj, fn, checkpoint, trigger)


def srm_monitor_topology(
    source: DataFrame,
    *,
    variant_col: str,
    expected: "dict[object, float]",
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    state_dir: str | None = "auto",
    trigger: dict | None = None,
    chi2_critical: float = 10.827566170662733,
):
    """Streaming sample-ratio-mismatch monitor: maintain per-arm
    assignment counts across micro-batches and emit, per batch, the
    running chi-square against the designed split — the experiment
    guard that must fire DURING the rollout, not in the post-hoc
    readout (by the time q240's batch audit runs, a biased
    assignment has already burned the traffic). Emits the same
    ``(variant, n_obs, expected_share, n_exp, chi2, srm_detected)``
    contract as the batch operator because it IS the batch closing
    math — :func:`maston_spark.evaluation.srm_from_counts` over the
    folded state, so the two paths cannot diverge (the q240 twin
    grades the fold cross-engine).

    Cross-batch state is the ≤|arms|-row ``(variant, n_obs)`` table,
    durable in the same versioned compacted parquet layout as
    ``delta_topology``'s store. The fold is ADDITIVE (counter
    semantics — the CMS discipline), so the crash-retry corner reads
    the stored v{batch_id} as the whole truth rather than re-adding
    the batch. Per batch: one combiner-reduced count aggregation,
    a ≤|arms|-row merge, and the |arms|-row closing chi-square —
    state and emit are both design-bounded no matter the traffic."""
    from maston_spark.evaluation import srm_from_counts

    sdir = f"{checkpoint.rstrip('/')}/srm_state" if state_dir == "auto" else state_dir
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    known = sorted({str(k) for k in expected}, key=str)
    items = source.select(F.col(variant_col).cast("string").alias("variant"))

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rogue = batch_df.filter(
            F.col("variant").isNotNull() & ~F.col("variant").isin(known)
        )
        if rogue.limit(1).count() > 0:
            bad = [r.variant for r in rogue.select("variant").distinct().collect()]
            raise ValueError(f"observed arms not in the design: {bad}")
        counts = (
            batch_df.filter(F.col("variant").isNotNull())
            .groupBy("variant")
            .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        )
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = prior[-1] if prior else (batch_id if batch_id in versions else None)
            if seed_v is not None and seed_v == batch_id:
                # additive-counter retry corner: the stored version
                # already contains this batch — it IS the state
                counts = spark.read.parquet(f"{sdir}/v{batch_id}").localCheckpoint(
                    eager=True
                )
            elif seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                counts = (
                    counts.unionByName(seed)
                    .groupBy("variant")
                    .agg(F.sum("n_obs").cast("long").alias("n_obs"))
                )
        counts = counts.persist()
        try:
            if sdir is not None:
                counts.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            exp_str = {str(k): v for k, v in expected.items()}
            write_metrics(
                srm_from_counts(counts, exp_str, chi2_critical), batch_id
            )
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior)
        finally:
            counts.unpersist()

    return _start_foreach_batch(items, fn, checkpoint, trigger)


def cusum_monitor_topology(
    source: DataFrame,
    *,
    group_col: str,
    ts_col: str,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    unit: str = "hour",
    state_dir: str | None = "auto",
    trigger: dict | None = None,
):
    """Streaming CUSUM rate-shift monitor (the SEVENTH topology):
    maintain per-(group, time-bucket) event counts across
    micro-batches and emit, per batch, each group's running CUSUM
    changepoint — where cumulative deviation from the mean rate
    peaks over everything seen so far (Page 1954), the
    ingest-volume rate-shift locator that must fire DURING the
    incident (q175's batch audit finds it post-hoc). Emits the same
    ``(group, changepoint_ts, n_buckets, total_events, cusum_scaled,
    cusum)`` contract as the batch operator because it IS the batch
    closing math — :func:`maston_spark.relational.cusum_from_counts`
    over the folded state, so the two paths cannot diverge (the
    q272 prefix twin grades the fold cross-engine).

    Cross-batch state is the |groups|×|buckets| ``(group, __bkt,
    __c)`` count table, durable in the same versioned compacted
    parquet layout as ``delta_topology``'s store. The fold is
    ADDITIVE (counter semantics): a late event lands in its original
    bucket's cell and the statistic self-corrects on the next
    emission — no watermark surgery. The crash-retry corner reads
    the stored v{batch_id} as the whole truth rather than re-adding
    the batch. Per batch: one combiner-reduced bucket aggregation, a
    state-sized merge, and the bounded-series closing windows —
    state and emit are bucket-bounded no matter the traffic."""
    from maston_spark.relational import cusum_from_counts

    sdir = (
        f"{checkpoint.rstrip('/')}/cusum_state" if state_dir == "auto" else state_dir
    )
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    items = source.select(
        F.col(group_col).cast("string").alias("group"),
        F.date_trunc(unit, F.col(ts_col)).alias("__bkt"),
    ).filter(F.col("group").isNotNull() & F.col("__bkt").isNotNull())

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = batch_df.groupBy("group", "__bkt").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = prior[-1] if prior else (batch_id if batch_id in versions else None)
            if seed_v is not None and seed_v == batch_id:
                # additive-counter retry corner: the stored version
                # already contains this batch — it IS the state
                counts = spark.read.parquet(f"{sdir}/v{batch_id}").localCheckpoint(
                    eager=True
                )
            elif seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                counts = (
                    counts.unionByName(seed)
                    .groupBy("group", "__bkt")
                    .agg(F.sum("__c").cast("long").alias("__c"))
                )
        counts = counts.persist()
        try:
            if sdir is not None:
                counts.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            write_metrics(cusum_from_counts(counts, "group"), batch_id)
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior)
        finally:
            counts.unpersist()

    return _start_foreach_batch(items, fn, checkpoint, trigger)


def vocab_saturation_topology(
    source: DataFrame,
    *,
    group_col: str,
    text_col: str,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    state_dir: str | None = "auto",
    trigger: dict | None = None,
    compact_every: int = 8,
):
    """Streaming vocabulary-saturation monitor (the EIGHTH topology):
    maintain per-(group, token) frequency counts across micro-batches
    and emit, per batch, each group's running Good-Turing unseen mass
    + Chao1 richness + GT singleton discount — the "is this crawl
    still finding new vocabulary" gauge read live: a group whose
    ``gt_unseen_mass`` keeps sinking toward 0 has been crawled to
    exhaustion and its budget should move elsewhere. Emits the exact
    contract of :func:`maston_spark.llm.text.
    vocab_richness_from_counts` because it IS that closing math over
    the folded state, so the streaming and batch paths cannot
    diverge (the q283 prefix twin grades the fold cross-engine).

    The durable cross-batch state is the per-(group, token) COUNT
    table, not the frequency-of-frequencies: fof is NOT additive (a
    token seen once in batch 1 and once in batch 2 is one doubleton,
    not two singletons), while token counts fold with plain
    union+sum — the q272 counter discipline, so a late or replayed
    document self-corrects the statistic on the next emission with
    no watermark surgery. Counts are TRUE totals (a {1,2,≥3} clamp
    would shrink nothing that matters — the state's row count is
    |vocab| either way — and would break ``n_tokens = Σ count``).

    State layout — SEGMENTED count deltas (the curation topology's
    delta+compaction discipline adapted to ADDITIVE counters; the
    other counter topologies rewrite whole snapshots because their
    state is intrinsically tiny — cusum: groups×buckets, srm: arms,
    privacy gate: QI-domain cells — but vocab state is |vocab|-sized,
    potentially 10⁸–10⁹ (group, token) rows at 100 TB, so a full
    rewrite per batch would be O(batches × |vocab|) write
    amplification):

    - ``d<N>`` — batch N's (group, token) count DELTA: an O(batch)
      append per micro-batch, the only per-batch state write;
    - ``c<K>`` — a compacted run holding the summed counts of
      EVERYTHING through batch K, written every ``compact_every``
      batches FROM the already-persisted merged frame (compaction
      costs one O(|vocab|) write amortized over ``compact_every``
      batches, never an extra read);
    - ``v<N>`` — legacy full snapshot (pre-segment layout),
      read-compatible as a run.

    Read rule — coverage, not row dedup (additive counts can't dedup
    the way the curation topology's content-hash SET state does): the
    NEWEST run with id <= batch covers every segment at or below its
    id, so the reader takes that run plus only the deltas ABOVE it. A
    crash between a compaction write and the consumed-segment delete
    leaves both visible, and the coverage rule keeps the sum exact.
    Retry corners: a stored run at ``batch_id`` means the previous
    attempt already folded this batch — it IS the state, never
    re-added; a failed attempt's own ``d{batch_id}`` is overwritten
    in place (same replayed source rows, same delta).

    Scale shape per batch: one combiner-reduced (group, token)
    aggregation over the BATCH (the shuffle carries the batch's
    distinct tokens), one O(batch) delta WRITE, one |state|-bounded
    merge read, one |vocab|-bounded fof close — write cost is
    batch-bounded and state size vocabulary-bounded no matter the
    traffic (Heaps' law: |vocab| grows ~√corpus, so the state is
    sublinear in everything ingested). Tokenization is single-space
    split (the engine's cross-engine-gradeable convention; empty
    tokens drop)."""
    from functools import reduce

    from maston_spark.llm.text import vocab_richness_from_counts

    sdir = (
        f"{checkpoint.rstrip('/')}/vocab_state" if state_dir == "auto" else state_dir
    )
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    toks = source.select(
        F.col(group_col).cast("string").alias("group"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).filter(
        F.col("group").isNotNull()
        & F.col("__tok").isNotNull()
        & (F.col("__tok") != "")
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = batch_df.groupBy("group", "__tok").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        if sdir is None:
            merged = counts.persist()
            try:
                write_metrics(vocab_richness_from_counts(merged, "group"), batch_id)
            finally:
                merged.unpersist()
            return
        segs = _curation_segments(spark, sdir)
        runs = [s for s in segs if s[0] in ("c", "v") and s[1] <= batch_id]
        run = max(runs, key=lambda s: s[1], default=None)
        if run is not None and run[1] == batch_id:
            # retry corner: the previous attempt already compacted
            # this batch — the stored run IS the state, never re-added
            merged = spark.read.parquet(
                f"{sdir}/{run[0]}{run[1]}"
            ).localCheckpoint(eager=True)
            consumed = [
                s
                for s in segs
                if s != run
                and s[1] <= batch_id
                and (s[0] == "d" or s[1] < batch_id)
            ]
            try:
                write_metrics(vocab_richness_from_counts(merged, "group"), batch_id)
                _drop_segments(spark, sdir, consumed)
            finally:
                merged.unpersist()
            return
        # O(batch) state write: this batch's delta (a failed prior
        # attempt's d{batch_id} holds the same rows — overwrite)
        counts.write.mode("overwrite").parquet(f"{sdir}/d{batch_id}")
        floor = run[1] if run is not None else -1
        deltas = [
            s for s in segs if s[0] == "d" and floor < s[1] < batch_id
        ]
        frames = [counts] + [
            spark.read.parquet(f"{sdir}/{k}{i}") for k, i in ([run] if run else []) + deltas
        ]
        merged = (
            reduce(lambda a, b: a.unionByName(b), frames)
            .groupBy("group", "__tok")
            .agg(F.sum("__c").cast("long").alias("__c"))
            .persist()
        )
        try:
            write_metrics(vocab_richness_from_counts(merged, "group"), batch_id)
            # amortized compaction: fold once `compact_every` live
            # segments accumulate, reusing the persisted merge (no
            # extra read); write-then-delete + the coverage read rule
            # make a crash between the two harmless
            if len(frames) >= int(compact_every):
                merged.write.mode("overwrite").parquet(f"{sdir}/c{batch_id}")
                _drop_segments(
                    spark,
                    sdir,
                    ([run] if run else [])
                    + deltas
                    + [("d", batch_id)],
                )
        finally:
            merged.unpersist()

    return _start_foreach_batch(toks, fn, checkpoint, trigger)


def privacy_gate_topology(
    source: DataFrame,
    *,
    qi_cols: "list[str]",
    sensitive_col: str,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    thresholds: "tuple[int, ...]" = (2, 5, 10),
    state_dir: str | None = "auto",
    trigger: dict | None = None,
):
    """Streaming privacy gate (the NINTH topology): maintain
    per-(quasi-identifier..., sensitive-value) counts across
    micro-batches and emit, per batch, the running k-anonymity /
    l-diversity audit over EVERYTHING ingested so far — the release
    gate read live: a sink that only ships when ``k_min`` clears
    policy watches this row, and the moment a batch makes some
    equivalence class unique the gauge says so, not the quarterly
    audit. Emits the exact contract of :func:`maston_spark.
    profiling.k_anonymity_from_counts` because it IS that closing
    math over the folded state, so the streaming and batch paths
    cannot diverge (the q296 prefix twin grades the fold
    cross-engine).

    The durable cross-batch state is the CELL count table — k and l
    are both anti-monotone under row arrival ONLY at cell
    granularity (a class's k grows but its l can also grow; neither
    per-class summary is additive, while cell counts fold with
    plain union+sum — the q272/q283 counter discipline). Late or
    replayed rows self-correct on the next emission; the
    crash-retry corner reads a stored v{batch_id} as the whole
    truth. Same versioned compacted parquet layout as
    ``delta_topology``.

    Scale shape per batch: one combiner-reduced cell aggregation
    over the BATCH, one |state|-sized merge, one |classes|-bounded
    close — state is bounded by |QI-domain × sensitive-domain|, the
    audit's own working set."""
    from maston_spark.profiling import k_anonymity_from_counts

    if not qi_cols:
        raise ValueError("privacy_gate_topology: need at least one QI column")
    sdir = (
        f"{checkpoint.rstrip('/')}/privacy_state" if state_dir == "auto" else state_dir
    )
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    rows = source.select(
        *[F.col(c) for c in qi_cols],
        F.col(sensitive_col).alias("__sv"),
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = batch_df.groupBy(*qi_cols, "__sv").agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        )
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = prior[-1] if prior else (batch_id if batch_id in versions else None)
            if seed_v is not None and seed_v == batch_id:
                # additive-counter retry corner: the stored version
                # already contains this batch — it IS the state
                counts = spark.read.parquet(f"{sdir}/v{batch_id}").localCheckpoint(
                    eager=True
                )
            elif seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                counts = (
                    counts.unionByName(seed)
                    .groupBy(*qi_cols, "__sv")
                    .agg(F.sum("__n").cast("long").alias("__n"))
                )
        counts = counts.persist()
        try:
            if sdir is not None:
                counts.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            write_metrics(
                k_anonymity_from_counts(counts, qi_cols, thresholds), batch_id
            )
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior)
        finally:
            counts.unpersist()

    return _start_foreach_batch(rows, fn, checkpoint, trigger)


def contamination_gate_topology(
    source: DataFrame,
    benchmark: DataFrame,
    *,
    group_col: str,
    id_col: str,
    text_col: str,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    n: int = 3,
    state_dir: str | None = "auto",
    trigger: dict | None = None,
):
    """Streaming benchmark-contamination gate (the TENTH topology):
    probe every arriving document's distinct n-grams against a
    static eval-set gram table and emit, per batch, each group's
    RUNNING contamination report over everything ingested so far —
    the decontamination gauge read live while a crawl runs, instead
    of the post-hoc q77 scan: the moment a source's `gram_frac`
    jumps, that crawler is pulling eval data and its output should
    quarantine, not land in the training mix.

    The durable cross-batch state is the per-group ADDITIVE counter
    row ``(n_docs, n_grams, n_hits, n_docs_hit)`` — per-doc
    fractions don't fold, counters do (the q272/q283/q296 counter
    discipline), and a document's contribution is decided entirely
    within its own batch (its grams probe a STATIC benchmark), so
    the fold is exact under replay. Emits the exact contract of
    :func:`maston_spark.llm.text.contamination_from_counts` because
    it IS that closing math over the folded state (the q303 prefix
    twin grades the fold cross-engine). State is |groups| rows —
    intrinsically tiny, so the versioned compacted snapshot layout
    (``v{batch_id}`` read as the whole truth on retry, priors
    dropped after the write) is the right shape, not the vocab
    topology's segment log.

    Scale shape per batch: the benchmark gram table is materialized
    ONCE at topology start (an eval suite is tiny — broadcast side),
    each batch pays one doc-id-partitioned gram explode + distinct
    + broadcast probe + two combiner-reduced aggs, and the state
    merge is |groups|-bounded no matter the traffic."""
    from maston_spark.llm.text import (
        contamination_counts,
        contamination_from_counts,
        tokens,
    )

    sdir = (
        f"{checkpoint.rstrip('/')}/contamination_state"
        if state_dir == "auto"
        else state_dir
    )
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    gram_expr = (
        f"explode(transform(sequence(0, size(__toks) - {n}), "
        f"i -> concat_ws(' ', slice(__toks, i + 1, {n}))))"
    )
    bench_grams = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(tokens(F.col(text_col)).alias("__toks"))
        .filter(F.size("__toks") >= n)
        .select(F.expr(gram_expr).alias("__gram"))
        .distinct()
        .localCheckpoint(eager=True)  # probe table: computed once,
        # reused every micro-batch without re-scanning the eval set
    )

    rows = source.select(
        F.col(group_col).alias("__grp"),
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__txt"),
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = contamination_counts(
            batch_df, bench_grams, "__grp", id_col="__id",
            text_col="__txt", n=n,
        )
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = prior[-1] if prior else (
                batch_id if batch_id in versions else None
            )
            if seed_v is not None and seed_v == batch_id:
                # additive-counter retry corner: the stored version
                # already contains this batch — it IS the state
                counts = spark.read.parquet(
                    f"{sdir}/v{batch_id}"
                ).localCheckpoint(eager=True)
            elif seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                counts = (
                    counts.unionByName(seed)
                    .groupBy("group")
                    .agg(
                        F.sum("n_docs").cast("long").alias("n_docs"),
                        F.sum("n_grams").cast("long").alias("n_grams"),
                        F.sum("n_hits").cast("long").alias("n_hits"),
                        F.sum("n_docs_hit").cast("long").alias(
                            "n_docs_hit"
                        ),
                    )
                )
        counts = counts.persist()
        try:
            if sdir is not None:
                counts.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            write_metrics(contamination_from_counts(counts), batch_id)
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior if sdir else [])
        finally:
            counts.unpersist()

    return _start_foreach_batch(rows, fn, checkpoint, trigger)


def ams_monitor_topology(
    source: DataFrame,
    *,
    side_col: str,
    key_col: str,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    n_lanes: int = 16,
    state_dir: str | None = "auto",
    trigger: dict | None = None,
):
    """ELEVENTH topology — streaming join-size monitor: maintain the
    two sides' AMS sign-sketch lane totals across micro-batches and
    emit, per batch, the running join-size estimate
    ``(n_a, n_b, est_join_size)`` — the optimizer statistic kept
    CURRENT while the tables load (by the time q217's batch estimate
    runs, the overnight ingest has already decided whether tonight's
    join is runnable; this answers it after every micro-batch from
    O(lanes) state). Rows carry ``side_col`` ∈ {'a','b'} (which
    stream/table the key belongs to) and ``key_col`` (the join key).

    The emit is the SAME close as the batch operator —
    :func:`maston_spark.sketches.ams_join_from_totals` over the
    folded ``(side, n, t0..t15)`` state — so the streaming path and
    q217's batch path cannot diverge, and the q314 fold twin grades
    the additive fold cross-engine (the q240/q272/q283/q296/q303
    twin discipline; this completes it for the optimizer family).

    Cross-batch state is the ≤2-row lane-total table, durable in the
    versioned compacted parquet layout shared with the other
    monitors; the fold is ADDITIVE (exact int64 counter semantics —
    ±1 sums fold with no error term), so the crash-retry corner
    reads the stored v{batch_id} as the whole truth rather than
    re-adding the batch. Per batch: one combiner-reduced 2-row
    aggregation, a ≤4-row merge, the O(lanes) closing dot product —
    state and emit are O(lanes) no matter the traffic."""
    from maston_spark.sketches import ams_join_from_totals, ams_lane_totals

    sdir = (
        f"{checkpoint.rstrip('/')}/ams_state"
        if state_dir == "auto"
        else state_dir
    )
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)

    items = source.select(
        F.col(side_col).cast("string").alias("side"),
        F.col(key_col).cast("string").alias("key"),
    )
    sum_cols = ["n"] + [f"t{l}" for l in range(n_lanes)]

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rogue = batch_df.filter(
            F.col("side").isNotNull() & ~F.col("side").isin("a", "b")
        )
        if rogue.limit(1).count() > 0:
            bad = [r.side for r in rogue.select("side").distinct().collect()]
            raise ValueError(f"ams_monitor: sides must be 'a'/'b', got {bad}")
        totals = ams_lane_totals(
            batch_df.filter(F.col("side") == "a"), "key", "a", n_lanes
        ).unionByName(
            ams_lane_totals(
                batch_df.filter(F.col("side") == "b"), "key", "b", n_lanes
            )
        )
        if sdir is not None:
            versions = _state_versions(spark, sdir)
            prior = [v for v in versions if v < batch_id]
            seed_v = prior[-1] if prior else (
                batch_id if batch_id in versions else None
            )
            if seed_v is not None and seed_v == batch_id:
                # additive-counter retry corner: the stored version
                # already contains this batch — it IS the state
                totals = spark.read.parquet(
                    f"{sdir}/v{batch_id}"
                ).localCheckpoint(eager=True)
            elif seed_v is not None:
                seed = spark.read.parquet(f"{sdir}/v{seed_v}")
                totals = (
                    totals.unionByName(seed)
                    .groupBy("side")
                    .agg(
                        *[
                            F.sum(c).cast("long").alias(c)
                            for c in sum_cols
                        ]
                    )
                )
        totals = totals.persist()
        try:
            if sdir is not None:
                totals.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/v{batch_id}")
            write_metrics(ams_join_from_totals(totals, n_lanes), batch_id)
            if sdir is not None:
                _drop_state_versions(spark, sdir, prior)
        finally:
            totals.unpersist()

    return _start_foreach_batch(items, fn, checkpoint, trigger)
