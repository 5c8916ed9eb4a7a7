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


# State layout. Every durable store is a directory of segments named
# <kind><N>, listed and dropped through the Hadoop FileSystem API so the
# store works on local FS, HDFS or object stores alike:
#   v<N>  full snapshot written by batch N (the sketch/counter
#         monitors; read as a run by the segment-log stores)
#   d<N>  batch N's own rows (delta_topology, curation, vocab)
#   c<N>  COMPACTED run: the merged state through batch N
#
# The v<N> stores follow the snapshot rule of _snapshot_monitor. The
# three stores that grow with their key domain follow the segment-log
# rule of _segment_log: each batch writes one O(batch) d<N>, and every
# _COMPACT_EVERY-th segment is a c<N> that the next batch reads instead
# of everything below it.
#
# Small files: the sketch snapshots and curation's segments land as ONE
# part file (coalesce(1)); a sketch-sized frame written at shuffle
# parallelism was ~16 part files, and the next batch's state read paid
# the listing + per-file footer cost. The delta and vocab segments are
# not coalesced: a compacted run grows with the key domain.
_SEG_KINDS = ("v", "d", "c")
_COMPACT_EVERY = 8


def _state_segments(spark, state_dir: str) -> list[tuple[str, int]]:
    """Live state segments as sorted ``(kind, id)`` pairs."""
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


def _state_dir(source: DataFrame, checkpoint: str, state_dir: str | None, name: str):
    """Resolve a topology's ``state_dir`` argument: ``"auto"`` is
    ``<checkpoint>/<name>`` and ``None`` opts out of durable state. A
    resolved dir is tied to ``checkpoint`` by :func:`_ensure_state_owner`."""
    sdir = f"{checkpoint.rstrip('/')}/{name}" if state_dir == "auto" else state_dir
    if sdir is not None:
        _ensure_state_owner(source.sparkSession, sdir, checkpoint)
    return sdir


def _segment_log(
    spark, sdir: str | None, batch_id: int, compact_every: int, schema=None
) -> tuple[DataFrame | None, bool]:
    """The segment-log rule of the growing stores (delta, curation,
    vocab): ``(prior, compact)`` for batch B = ``batch_id``.

    ``prior`` is one scan of the live segments with each row's segment
    id in column ``__seg`` (None without a state dir or segments): the
    newest run (``c<N>``, or a legacy ``v<N>``) with N < B plus every
    ``d<M>`` above it. The segments that run covers are dropped here.
    The caller merges ``prior`` with its batch and writes ONE segment:
    ``d<B>`` with only the batch's own rows, or, when ``compact`` (the
    batch would be the ``compact_every``-th live segment), ``c<B>``
    from the merged frame. Nothing else is deleted, so a retried B
    (its batch never committed) reads the same segments and rewrites
    the same one. ``schema`` is the segments' schema when the caller
    knows it; otherwise the segments' footers are merged (one job)."""
    if sdir is None:
        return None, False
    segs = [s for s in _state_segments(spark, sdir) if s[1] < batch_id]
    run = max(
        (s for s in segs if s[0] in ("c", "v")), key=lambda s: s[1], default=("c", -1)
    )
    _drop_segments(spark, sdir, [s for s in segs if s[1] <= run[1] and s != run])
    live = [s for s in segs if s == run or s[1] > run[1]]
    compact = 1 + len(live) >= compact_every
    if not live:
        return None, compact
    if schema is None:
        reader = spark.read.option("mergeSchema", "true")
    else:
        reader = spark.read.schema(schema)
    seg = F.regexp_extract("_metadata.file_path", r"/[cdv](\d+)/[^/]*$", 1).cast("int")
    prior = reader.parquet(*[f"{sdir}/{k}{i}" for k, i in live]).withColumn("__seg", seg)
    return prior, compact


def _snapshot_monitor(
    proj: DataFrame,
    fold: Callable[[DataFrame, DataFrame | None], DataFrame],
    emit: Callable[[DataFrame], DataFrame],
    *,
    name: str,
    checkpoint: str,
    state_dir: str | None,
    write_metrics: Callable[[DataFrame, int], None],
    trigger: dict | None,
):
    """The one batch loop of the metrics monitors: start ``proj`` and,
    per micro-batch, ``state = fold(batch, prior)``, write ``state`` as
    the batch's snapshot, then ``write_metrics(emit(state), batch_id)``.
    ``state`` is persisted across the write and the emit. ``name`` is
    the state dir under the checkpoint when ``state_dir`` is ``"auto"``.

    Snapshot rule: batch B folds its input into the newest ``v<N>``
    with N < B (``prior``; None at the first batch and without a state
    dir) and writes ``v<B>`` as one part file. Structured Streaming
    starts batch B only after B-1 has committed, so every version below
    the newest prior one is dead and B drops it before writing; the
    prior version itself stays until a later batch runs. A retried B
    therefore finds the same prior version and recomputes the same
    state and the same output, whether the fold is a set union or an
    additive sum. This is the D-Streams model: a batch's state is a
    deterministic function of the previous state and the batch."""
    sdir = _state_dir(proj, checkpoint, state_dir, name)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prior = None
        if sdir is not None:
            vs = [s for s in _state_segments(spark, sdir) if s[0] == "v" and s[1] < batch_id]
            _drop_segments(spark, sdir, vs[:-1])
            if vs:
                prior = spark.read.parquet(f"{sdir}/v{vs[-1][1]}")
        state = fold(batch_df, prior).persist()
        try:
            if sdir is not None:
                state.coalesce(1).write.mode("overwrite").parquet(
                    f"{sdir}/v{batch_id}"
                )
            write_metrics(emit(state), batch_id)
        finally:
            state.unpersist()

    return _start_foreach_batch(proj, fn, checkpoint, trigger)


def _curation_rows(prior: DataFrame | None, batch_id: int, retention: int | None):
    """Curation's merge: the accepted rows batch ``batch_id`` probes,
    as a SET over the content hash ``__h`` (a run and the deltas above
    it never share a row, but a set cannot double-count). Rows carry
    their accepting batch ``b`` (a legacy ``v<N>`` snapshot has none:
    its rows count as accepted by batch N); with retention R only rows
    with ``b >= batch_id - R`` stay visible. The Bloom ``positions``
    column of segments written by older versions is dropped."""
    if prior is None:
        return None
    b = F.col("__seg")
    if "b" in prior.columns:
        b = F.coalesce(F.col("b"), b)
    st = prior.withColumn("b", b.cast("long")).drop("__seg", "positions")
    if retention is not None:
        st = st.filter(F.col("b") >= F.lit(batch_id - retention))
    return st.dropDuplicates(["__h"])


def _ensure_state_owner(spark, state_dir: str, checkpoint: str) -> None:
    """Guard against an explicit ``state_dir`` being reused with a
    FRESH checkpoint: batch ids restart at 0 there, so the previous
    run's segments (a stale ``c<N>`` run of a segment-log store above
    all) would be read as this stream's history. An ``_owner``
    marker ties the state table to the checkpoint it belongs to; on
    mismatch the stale segments are dropped — a new checkpoint is a
    new stream, so its state starts empty. A restart of the SAME
    checkpoint matches the marker and keeps its durable state (that's
    the point of the table)."""
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
        _drop_segments(spark, state_dir, _state_segments(spark, state_dir))
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
    per key lives in a segment log under ``state_dir`` (default
    ``<checkpoint>/delta_state``; the rule of :func:`_segment_log`).
    Batch B writes ``d<B>``, the last accepted record of each key among
    its own accepted records, so a record unchanged across two batches
    stays suppressed — the golden sequence of
    topology/VavrKStreamWithDeltaTopologyTest.java:312-331 emits
    0,2,3,5 regardless of how the records split into batches.

    Scale note: the per-batch state write is O(batch), like the
    reference's one put per accepted record. The fold is seeded with
    the prior records of the batch's own keys only: a null-safe
    semi-join of the live segments on the key, then the newest
    segment's record per key, all in the JVM. Every 8th segment
    (``_COMPACT_EVERY``) is ``c<B>`` instead, the whole key set, which
    bounds the segments a batch reads.
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
    sdir = _state_dir(source, checkpoint, state_dir, "delta_state")
    SEQ = "__seq"  # 0 = state seed (sorts before every batch row)

    def newest(df: DataFrame, *order: Column) -> DataFrame:
        w = Window.partitionBy("__business_key").orderBy(*order)
        return df.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        accepted = None
        try:
            # invalid rows bypass the delta state entirely (the
            # reference's branch happens before the transformer)
            invalid = batch_df.filter(F.col("err").isNotNull())
            valid = batch_df.filter(F.col("err").isNull() & F.col(OK).isNotNull())
            combined = valid.withColumn(SEQ, F.lit(1))
            prior, compact = _segment_log(
                spark, sdir, batch_id, _COMPACT_EVERY, batch_df.schema
            )
            if prior is not None:
                # null-safe: the fold treats a null key as one key; the
                # batch's keys are broadcast, so the segments are not
                # shuffled before the newest-row window
                keys = F.broadcast(valid.select(F.col("__business_key").alias("__k")))
                seed = prior.join(
                    keys, prior["__business_key"].eqNullSafe(keys["__k"]), "left_semi"
                )
                seed = newest(seed, F.col("__seg").desc()).drop("__seg")
                combined = combined.unionByName(seed.withColumn(SEQ, F.lit(0)))
            accepted = delta_dedup_fold(
                combined, ["__business_key"], [SEQ, *ord_aliases], is_updated
            ).persist()
            emitted = accepted.filter(F.col(SEQ) == 1).drop(SEQ)
            if sdir is not None:
                state = newest(emitted, *[F.col(a).desc_nulls_last() for a in ord_aliases])
                if compact and prior is not None:
                    state = newest(
                        prior.unionByName(state.withColumn("__seg", F.lit(batch_id))),
                        F.col("__seg").desc(),
                    ).drop("__seg")
                kind = "c" if compact else "d"
                state.write.mode("overwrite").parquet(f"{sdir}/{kind}{batch_id}")
            split(emitted.unionByName(invalid).drop(*ord_aliases), batch_id)
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
    compact_every: int = _COMPACT_EVERY,
):
    """Streaming CURATION pipeline — the maston validated-ingest
    semantics fused with the LLM-corpus curation battery, per batch:

    1. safe deserialize (``value_format``) — parse failures carry the
       reference ``err`` struct;
    2. :func:`maston_spark.llm.text.gopher_gate` quality battery —
       rule failures become ``err`` rows
       (``QualityGateRejected``, ordered fail reasons in the message);
    3. incremental dedup against the historical corpus AND everything
       this stream already accepted: one hash join of the batch's
       normalized content hashes against the reference hashes and the
       durable state, then within-batch first-copy-wins; duplicates
       become ``err`` rows (``DuplicateRecord``);
    4. the reference fan-out (:func:`maston_spark.sinks.split_sink_batch`):
       survivors serialize to the valid sink, every reject reaches the
       DLQ with the 11 ``maston.error.*`` provenance headers — one
       error channel for parse, quality, and duplicate rejects alike.

    Cross-batch dedup state is DURABLE: accepted (content-hash[,
    signature, bands]) rows live in a SEGMENTED
    parquet table under ``state_dir`` (default
    ``<checkpoint>/curation_state``; the rule of :func:`_segment_log`).
    Each batch appends ONE delta segment holding only its own accepted
    rows — the state write is O(batch), never O(history)
    (topology/TopologyBuilder.java:66-69); a retry overwrites its own
    segment with the same rows. Every ``compact_every``-th segment is a
    compacted run of the probed state plus the batch's rows, so the
    per-batch read stays bounded in file count.
    ``state_retention_batches=R`` bounds the state's VOLUME: batch B
    probes only rows accepted in the last R batches (rows carry their
    accepting batch id), and a compacted run keeps only the rows its
    batch probed — the documented tradeoff being recall, not
    correctness: a duplicate of content accepted more than R batches
    ago is re-accepted (the contract of any TTL'd dedup state). The
    segments are the whole dedup state, so a doc accepted before a
    crash still suppresses its copies after a restart. Segments
    written with the older ``positions`` column (Bloom bit positions)
    are read as they are, and a compacted run drops that column.

    Scale shape: the reference corpus is touched ONCE at topology
    start (an exact-hash table, persisted); per batch the hash join's
    right side is that table plus the state's hashes — hashes, never
    text (topology/TopologyBuilder.java:66-69: one exact lookup in the
    keyed store per record).

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
    The band buckets and signatures ride in the same segmented state
    table as the exact hashes. State written before this feature
    existed lacks the columns and is read as empty arrays (older docs
    suppress exact copies only).

    Parity anchors: topology/TopologyBuilder.java:30-50 (validate →
    branch → DLQ shape), error/KafkaErrorToHeaderBuilder.java:16-26
    (headers); the curation stages follow Rae et al. 2021 (gate) and
    the exact content hash of
    :func:`maston_spark.llm.dedup.content_hash`; the near-dup stage composes the q41/q152 MinHash-LSH pipeline
    (Broder 1997) incrementally.
    """
    from maston_spark import errors as E
    from maston_spark.llm.dedup import content_hash
    from maston_spark.llm.text import gopher_gate
    from maston_spark.sinks import split_sink_batch
    from maston_spark.validated import ERR, _mk_err

    spark = source.sparkSession
    validated = _parse_validated(source, value_col, value_schema, value_format)
    sdir = _state_dir(source, checkpoint, state_dir, "curation_state")

    # the reference-corpus hash table builds ONCE at topology start
    ref_hashes = (
        ref_corpus.select(content_hash(F.col(text_col)).alias("__h"))
        .distinct()
        .persist()
    )

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
    helper_cols = [
        "__gid", "__keep", "__reasons", "__h", "__hh", "__hit", "__elig",
        "__rn", "__near",
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
            j = batch_df.join(
                verdict, gid == F.col("__gid"), "left"
            ).withColumn("__h", content_hash(text_of))

            # the dedup table: historical corpus + durable state.
            # A batch reads only strictly-prior segments: seeding from
            # a failed attempt's own segment would reclassify every doc
            # it accepted as a DuplicateRecord. A retried batch
            # re-accepts its own docs and rewrites the same segment.
            hist = ref_hashes
            prior, compact = _segment_log(spark, sdir, batch_id, compact_every)
            seed = _curation_rows(prior, batch_id, state_retention_batches)
            if seed is not None:
                hist = ref_hashes.unionByName(seed.select("__h")).distinct()
            hist_hits = hist.select(
                F.col("__h").alias("__hh"), F.lit(True).alias("__hit")
            )
            j2 = j.join(hist_hits, F.col("__h") == F.col("__hh"), "left")
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
                .select("__gid", "__h")
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
            accepted = accepted.drop("__gid").withColumn(
                "b", F.lit(batch_id).cast("long")
            )
            if sdir is not None:
                # d<B>: only this batch's accepted rows, stamped with
                # their accepting batch id; c<B>: the probed state too
                seg = accepted
                if compact and seed is not None:
                    seg = seed.unionByName(accepted, allowMissingColumns=True)
                kind = "c" if compact else "d"
                seg.coalesce(1).write.mode("overwrite").parquet(f"{sdir}/{kind}{batch_id}")
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
            if on_metrics is not None:
                on_metrics(batch_id, counts)
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
    ``(g, h)`` hash rows in the ``kmv_state`` snapshot store (see
    :func:`_snapshot_monitor`). Merging a batch is the KMV union
    property (:func:`maston_spark.sketches.kmv_truncate`): union the
    stored survivors with the batch's distinct hashes and re-keep the
    k minima — the result is bit-identical to sketching the whole
    history in one pass, which is what makes the emitted estimate
    deterministic and restart-invariant.

    Scale shape per batch: one distinct over (group, hash) — the only
    corpus-sized shuffle — then sketch-sized work: the merge window
    runs over ≤ state+batch-survivor rows per group, the state write
    is ≤ groups×k rows, the metrics frame ≤ |groups| rows.
    """
    from maston_spark.sketches import h60, kmv_estimate, kmv_truncate

    hashed = source.select(
        F.col(group_col).alias("g"), h60(F.col(value_col).cast("string")).alias("h")
    )

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        gh = batch_df.dropDuplicates(["g", "h"])
        if prior is not None:
            gh = gh.unionByName(prior)
        return kmv_truncate(gh, k).select("g", "h")

    def emit(sk: DataFrame) -> DataFrame:
        sk = sk.withColumnRenamed("g", group_col)
        seen = sk.groupBy(group_col).agg(
            F.count(F.lit(1)).cast("long").alias("n_seen")
        )
        return seen.join(kmv_estimate(sk, group_col, k), group_col).select(
            group_col, "n_seen", "n_distinct_est"
        )

    return _snapshot_monitor(
        hashed, fold, emit, name="kmv_state", checkpoint=checkpoint,
        state_dir=state_dir, write_metrics=write_metrics, trigger=trigger,
    )


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
    asks HOW OFTEN for known keys). A NULL watch entry is dropped.

    Cross-batch state IS the sketch grid (≤ d·w ``(seed, bucket,
    cnt)`` rows) in the ``cms_state`` snapshot store; merging a batch
    is the CMS merge property — cell-wise SUM of the stored grid with
    the batch's grid (:func:`maston_spark.sketches.sum_counts`) — so
    every emitted estimate equals sketching the whole history at
    once, and ``est ≥ true`` (one-sided) holds at every batch. The
    probe is :func:`maston_spark.sketches.cms_probe`, as in the q211
    twin.

    Scale shape per batch: the batch grid is ONE combiner-reduced
    aggregation (≤ d·w rows per task before the tiny shuffle); the
    merge touches 2·d·w rows; the probe joins the broadcast grid
    against the |watch|-row list.
    """
    from maston_spark.sketches import cms_probe, cms_sketch, sum_counts

    items = source.select(F.col(item_col).alias("item"))
    probes = source.sparkSession.createDataFrame(
        [(w,) for w in watch], "item string"
    )

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        g = cms_sketch(batch_df, "item", depth, width)
        return sum_counts(g, prior, ["seed", "bucket"], ["cnt"])

    return _snapshot_monitor(
        items, fold, lambda g: cms_probe(g, probes, "item", depth, width),
        name="cms_state", checkpoint=checkpoint, state_dir=state_dir,
        write_metrics=write_metrics, trigger=trigger,
    )


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
    carried) in the ``quantile_state`` snapshot store. Merging a
    batch is the bottom-k union property (:func:`maston_spark.
    sketches.quantile_sample_merge`): union the stored survivors with
    the batch's survivors and re-keep the k (h, value) minima — a SET
    identity, so every emitted estimate is bit-identical to
    sketching the whole history in one pass (the property
    :func:`kll_quantiles` deliberately trades away for better rank
    error per byte; monitoring wants restart-invariance).

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

    hashed = source.select(
        F.col(group_col).alias("g"),
        h60(F.col(key_col).cast("string")).alias("h"),
        F.col(value_col).cast("double").alias("value"),
    ).filter(F.col("h").isNotNull() & F.col("value").isNotNull())

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        w = Window.partitionBy("g").orderBy("h", "value")
        sk = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
        return sk if prior is None else quantile_sample_merge(sk, prior, k)

    def emit(sk: DataFrame) -> DataFrame:
        return quantile_sample_estimate(sk, "g", qs).withColumnRenamed("g", group_col)

    return _snapshot_monitor(
        hashed, fold, emit, name="quantile_state", checkpoint=checkpoint,
        state_dir=state_dir, write_metrics=write_metrics, trigger=trigger,
    )


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

    State: the per-bin counters in the ``drift_state`` snapshot
    store, folded additively. The reference pmf and edges are fixed
    at start; every emitted TVD is the exact cross-multiplied int64
    statistic over (running counts, reference counts).
    """
    # edges / binning / merge / TVD arithmetic shared with the
    # oracle-graded batch twin (q201) — the streaming path and the
    # graded path cannot drift apart
    from maston_spark.profiling import (
        bucket_of_edges,
        ref_bin_edges,
        tvd_from_counts,
    )
    from maston_spark.sketches import sum_counts

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")

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

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        g = batch_df.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("n"))
        return sum_counts(g, prior, ["bin"], ["n"])

    def emit(g: DataFrame) -> DataFrame:
        stream_counts = {r["bin"]: r["n"] for r in g.collect()}
        n_i = [int(stream_counts.get(b, 0)) for b in range(n_bins)]
        tvd = tvd_from_counts(n_i, m_ref)
        return g.sparkSession.createDataFrame(
            [(sum(n_i), n_ref_total, float(tvd), bool(tvd > threshold))],
            "n_stream long, n_ref long, tvd double, drifted boolean",
        )

    return _snapshot_monitor(
        binned, fold, emit, name="drift_state", checkpoint=checkpoint,
        state_dir=state_dir, write_metrics=write_metrics, trigger=trigger,
    )


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
    ``(__day, bucket, mj)`` rows in the ``hll_state`` snapshot store.
    Merging a batch is the HLL union property: per-(day, bucket) MAX
    of stored and batch registers, so the merged state is
    bit-identical to sketching the whole history in one pass — which
    makes every emitted estimate equal to the batch twin's one-shot
    answer over the data so far (golden-tested).

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

    proj = source.select(
        F.date_trunc("day", F.col(ts_col)).cast("date").alias("__day"),
        F.col(value_col).alias("__v"),
    ).filter(F.col("__day").isNotNull() & F.col("__v").isNotNull())

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        combined = hll_registers(batch_df, "__day", "__v", p=p)
        if prior is not None:
            combined = combined.unionByName(prior)
        state = combined.groupBy("__day", "bucket").agg(F.max("mj").alias("mj"))
        if retention_days is None:
            return state
        newest = state.agg(F.max("__day").alias("__newest"))
        return (
            state.join(F.broadcast(newest))
            .filter(
                F.datediff(F.col("__newest"), F.col("__day"))
                < F.lit(int(retention_days))
            )
            .drop("__newest")
        )

    def emit(state: DataFrame) -> DataFrame:
        days = state.select(F.col("__day").alias("day")).distinct()
        merged = (
            F.broadcast(days)
            .join(
                state,
                F.datediff(F.col("day"), F.col("__day")).between(0, window_days - 1),
            )
            .groupBy("day", "bucket")
            .agg(F.max("mj").alias("mj"))
        )
        return hll_raw_estimate(merged, ["day"], p=p).orderBy("day")

    return _snapshot_monitor(
        proj, fold, emit, name="hll_state", checkpoint=checkpoint,
        state_dir=state_dir, write_metrics=write_metrics, trigger=trigger,
    )


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
    folded state, so the two paths cannot diverge (the q250 twin
    grades the fold cross-engine).

    Cross-batch state is the ≤|arms|-row ``(variant, n_obs)`` table
    in the ``srm_state`` snapshot store, folded additively (counter
    semantics). Per batch: one combiner-reduced count aggregation,
    a ≤|arms|-row merge, and the |arms|-row closing chi-square —
    state and emit are both design-bounded no matter the traffic."""
    from maston_spark.evaluation import srm_from_counts
    from maston_spark.sketches import sum_counts

    known = sorted({str(k) for k in expected}, key=str)
    exp_str = {str(k): v for k, v in expected.items()}
    items = source.select(F.col(variant_col).cast("string").alias("variant"))

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
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
        return sum_counts(counts, prior, ["variant"], ["n_obs"])

    return _snapshot_monitor(
        items, fold, lambda c: srm_from_counts(c, exp_str, chi2_critical),
        name="srm_state", checkpoint=checkpoint, state_dir=state_dir,
        write_metrics=write_metrics, trigger=trigger,
    )


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
    __c)`` count table in the ``cusum_state`` snapshot store. The
    fold is ADDITIVE (counter semantics): a late event lands in its
    original bucket's cell and the statistic self-corrects on the
    next emission — no watermark surgery. Per batch: one
    combiner-reduced bucket aggregation, a state-sized merge, and
    the bounded-series closing windows — state and emit are
    bucket-bounded no matter the traffic."""
    from maston_spark.relational import cusum_from_counts
    from maston_spark.sketches import sum_counts

    items = source.select(
        F.col(group_col).cast("string").alias("group"),
        F.date_trunc(unit, F.col(ts_col)).alias("__bkt"),
    ).filter(F.col("group").isNotNull() & F.col("__bkt").isNotNull())

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        counts = batch_df.groupBy("group", "__bkt").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        return sum_counts(counts, prior, ["group", "__bkt"], ["__c"])

    return _snapshot_monitor(
        items, fold, lambda c: cusum_from_counts(c, "group"),
        name="cusum_state", checkpoint=checkpoint, state_dir=state_dir,
        write_metrics=write_metrics, trigger=trigger,
    )


def vocab_saturation_topology(
    source: DataFrame,
    *,
    group_col: str,
    text_col: str,
    checkpoint: str,
    write_metrics: Callable[[DataFrame, int], None],
    state_dir: str | None = "auto",
    trigger: dict | None = None,
    compact_every: int = _COMPACT_EVERY,
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
    not two singletons), while token counts fold with
    :func:`maston_spark.sketches.sum_counts` — the q272 counter
    discipline, so a late or replayed document self-corrects the
    statistic on the next emission with no watermark surgery. Counts
    are TRUE totals (a {1,2,≥3} clamp would shrink nothing that
    matters — the state's row count is |vocab| either way — and would
    break ``n_tokens = Σ count``).

    State layout — the segment log of :func:`_segment_log` (the other
    counter topologies rewrite whole snapshots because their state is
    intrinsically tiny — cusum: groups×buckets, srm: arms, privacy
    gate: QI-domain cells — but vocab state is |vocab|-sized,
    potentially 10⁸–10⁹ (group, token) rows at 100 TB, so a full
    rewrite per batch would be O(batches × |vocab|) write
    amplification): ``d<N>`` holds batch N's (group, token) count
    delta, and every ``compact_every``-th batch writes ``c<N>``, the
    summed counts through N, from its already-persisted merged frame
    (one O(|vocab|) write amortized over ``compact_every`` batches,
    never an extra read). The merge is
    :func:`maston_spark.sketches.sum_counts` over the run and the
    deltas above it: coverage, not row dedup, keeps the counts exact.

    Scale shape per batch: one combiner-reduced (group, token)
    aggregation over the BATCH (the shuffle carries the batch's
    distinct tokens), one O(batch) delta WRITE, one |state|-bounded
    merge read, one |vocab|-bounded fof close — write cost is
    batch-bounded and state size vocabulary-bounded no matter the
    traffic (Heaps' law: |vocab| grows ~√corpus, so the state is
    sublinear in everything ingested). Tokenization is single-space
    split (the engine's cross-engine-gradeable convention; empty
    tokens drop)."""
    from maston_spark.llm.text import vocab_richness_from_counts
    from maston_spark.sketches import sum_counts

    sdir = _state_dir(source, checkpoint, state_dir, "vocab_state")

    toks = source.select(
        F.col(group_col).cast("string").alias("group"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).filter(
        F.col("group").isNotNull()
        & F.col("__tok").isNotNull()
        & (F.col("__tok") != "")
    )

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        counts = batch_df.groupBy("group", "__tok").agg(
            F.count(F.lit(1)).cast("long").alias("__c")
        )
        prior, compact = _segment_log(
            batch_df.sparkSession, sdir, batch_id, compact_every, counts.schema
        )
        if prior is not None:
            prior = prior.drop("__seg")
        merged = sum_counts(counts, prior, ["group", "__tok"], ["__c"]).persist()
        try:
            if sdir is not None:
                # a compacting batch writes the persisted merge (no
                # extra read)
                seg = merged if compact else counts
                kind = "c" if compact else "d"
                seg.write.mode("overwrite").parquet(f"{sdir}/{kind}{batch_id}")
            write_metrics(vocab_richness_from_counts(merged, "group"), batch_id)
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

    The durable cross-batch state is the CELL count table in the
    ``privacy_state`` snapshot store — k and l are both anti-monotone
    under row arrival ONLY at cell granularity (a class's k grows but
    its l can also grow; neither per-class summary is additive, while
    cell counts fold additively — the q272/q283 counter discipline).
    Late or replayed rows self-correct on the next emission.

    Scale shape per batch: one combiner-reduced cell aggregation
    over the BATCH, one |state|-sized merge, one |classes|-bounded
    close — state is bounded by |QI-domain × sensitive-domain|, the
    audit's own working set."""
    from maston_spark.profiling import k_anonymity_from_counts
    from maston_spark.sketches import sum_counts

    if not qi_cols:
        raise ValueError("privacy_gate_topology: need at least one QI column")

    rows = source.select(
        *[F.col(c) for c in qi_cols],
        F.col(sensitive_col).alias("__sv"),
    )
    cells = [*qi_cols, "__sv"]

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        counts = batch_df.groupBy(*cells).agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        )
        return sum_counts(counts, prior, cells, ["__n"])

    return _snapshot_monitor(
        rows, fold, lambda c: k_anonymity_from_counts(c, qi_cols, thresholds),
        name="privacy_state", checkpoint=checkpoint, state_dir=state_dir,
        write_metrics=write_metrics, trigger=trigger,
    )


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
    row ``(n_docs, n_grams, n_hits, n_docs_hit)`` in the
    ``contamination_state`` snapshot store — per-doc fractions don't
    fold, counters do (the q272/q283/q296 counter discipline), and a
    document's contribution is decided entirely within its own batch
    (its grams probe a STATIC benchmark), so the fold is exact under
    replay. Emits the exact contract of
    :func:`maston_spark.llm.text.contamination_from_counts` because
    it IS that closing math over the folded state (the q303 prefix
    twin grades the fold cross-engine).

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
    from maston_spark.sketches import sum_counts

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

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        counts = contamination_counts(
            batch_df, bench_grams, "__grp", id_col="__id", text_col="__txt", n=n,
        )
        return sum_counts(
            counts, prior, ["group"], ["n_docs", "n_grams", "n_hits", "n_docs_hit"]
        )

    return _snapshot_monitor(
        rows, fold, contamination_from_counts, name="contamination_state",
        checkpoint=checkpoint, state_dir=state_dir,
        write_metrics=write_metrics, trigger=trigger,
    )


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

    Cross-batch state is the ≤2-row lane-total table in the
    ``ams_state`` snapshot store; the fold is ADDITIVE (exact int64
    counter semantics — ±1 sums fold with no error term). Per batch:
    one combiner-reduced 2-row aggregation, a ≤4-row merge, the
    O(lanes) closing dot product — state and emit are O(lanes) no
    matter the traffic."""
    from maston_spark.sketches import ams_join_from_totals, ams_lane_totals, sum_counts

    items = source.select(
        F.col(side_col).cast("string").alias("side"),
        F.col(key_col).cast("string").alias("key"),
    )
    sum_cols = ["n"] + [f"t{l}" for l in range(n_lanes)]

    def fold(batch_df: DataFrame, prior: DataFrame | None) -> DataFrame:
        rogue = batch_df.filter(
            F.col("side").isNotNull() & ~F.col("side").isin("a", "b")
        )
        if rogue.limit(1).count() > 0:
            bad = [r.side for r in rogue.select("side").distinct().collect()]
            raise ValueError(f"ams_monitor: sides must be 'a'/'b', got {bad}")
        totals = ams_lane_totals(
            batch_df.filter(F.col("side") == "a"), "key", "a", n_lanes
        ).unionByName(
            ams_lane_totals(batch_df.filter(F.col("side") == "b"), "key", "b", n_lanes)
        )
        return sum_counts(totals, prior, ["side"], sum_cols)

    return _snapshot_monitor(
        items, fold, lambda t: ams_join_from_totals(t, n_lanes),
        name="ams_state", checkpoint=checkpoint, state_dir=state_dir,
        write_metrics=write_metrics, trigger=trigger,
    )
