"""Validated-ingest operators: safe deserialization, branch, process,
error-header provenance, header flattening, safe serialization.

These reproduce the semantics of the reference's serde/transformer
layer (citations inline). The JSON operators, the jar-backed
:func:`safe_from_avro` and the error-channel operators are DataFrame
column algebra: Catalyst expressions inside whole-stage codegen. The
jar-less Avro serde (:func:`safe_from_avro_evolving` and its sugar,
:func:`safe_serialize_avro`) runs in Python workers under
``mapInArrow``, one Arrow batch at a time: schemas in the
vectorizable subset decode and encode as whole-batch numpy passes
(:mod:`maston_spark.avro_vec`); records that pass cannot handle, and
schemas outside the subset (arrays, maps), take the compiled
per-record codec (:mod:`maston_spark.avro_codec`).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from maston_spark import avro_codec as AC
from maston_spark import avro_vec as AV
from maston_spark import errors as E

OK = "ok"
ERR = "err"


def _mk_err(
    code: Column,
    message: Column,
    target_class: Column,
    exception_class: Column,
    exception_message: Column,
    stacktrace: Column,
    raw_bytes: Column,
    source_record: Column | None = None,
) -> Column:
    cols = [
        code.alias("code"),
        message.alias("message"),
        target_class.alias("target_class"),
        exception_class.alias("exception_class"),
        exception_message.alias("exception_message"),
        stacktrace.alias("stacktrace"),
        raw_bytes.alias("raw_bytes"),
    ]
    if source_record is not None:
        cols.append(source_record.alias("source_record"))
    return F.struct(*cols)


def safe_from_json(
    df: DataFrame,
    value_col: str,
    schema,
    target_class: str = "json",
    options: dict | None = None,
) -> DataFrame:
    """Parse ``value_col`` as JSON into ``ok``; on failure fill ``err``.

    Parity: serdes/VavrSafeDeserializer.java:29-39 +
    serdes/JsonDeserializer.java:26-31 — try-deserialize, on failure
    wrap the original bytes and a FAILED_TO_DESERIALIZE_RECORD code
    instead of crashing. Spark's ``from_json`` returns NULL for
    malformed input, which we route to the ``err`` struct, keeping
    the raw payload in ``err.raw_bytes``.

    A NULL input value (Kafka tombstone) stays valid with a NULL
    ``ok``, mirroring Confluent deserializers returning null.

    Implementation note: Spark's PERMISSIVE ``from_json`` returns a
    row of NULLs (not a NULL row) for malformed input, so corruption
    is detected via ``columnNameOfCorruptRecord`` appended to the
    parse schema.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    corrupt = "__corrupt_record"
    parse_schema = StructType(list(schema.fields) + [StructField(corrupt, StringType())])
    opts = dict(options or {})
    opts["columnNameOfCorruptRecord"] = corrupt

    raw = F.col(value_col)
    parsed = F.from_json(raw, parse_schema, opts)
    is_err = raw.isNotNull() & (parsed.isNull() | parsed[corrupt].isNotNull())
    ok = F.struct(*[parsed[f.name].alias(f.name) for f in schema.fields])
    err = _mk_err(
        code=F.lit(E.FAILED_TO_DESERIALIZE_RECORD),
        message=F.concat(F.lit("unable to parse value as "), F.lit(target_class)),
        target_class=F.lit(target_class),
        exception_class=F.lit("JsonParseException"),
        exception_message=F.concat(F.lit("malformed json: "), F.substring(raw, 1, 64)),
        stacktrace=F.lit(None).cast("string"),
        raw_bytes=raw.cast("binary"),
        source_record=F.lit(None).cast(schema),
    )
    return df.withColumn(OK, F.when(~is_err & raw.isNotNull(), ok)).withColumn(
        ERR, F.when(is_err, err)
    )


def safe_from_avro(
    df: DataFrame,
    value_col: str,
    avro_schema_json: str,
    target_class: str = "avro",
    confluent_wire_format: bool = True,
) -> DataFrame:
    """Avro analogue of :func:`safe_from_json`.

    Confluent wire format = 1 magic byte + 4-byte schema id before
    the Avro body (parity: the registry-backed serde the reference
    configures in properties/KafkaPropertiesBuilder.java:43-55), so
    we strip 5 bytes before decoding. Uses PERMISSIVE mode so corrupt
    records surface as NULL and get routed to ``err``.

    Requires the spark-avro module on the classpath; callers should
    guard with :func:`avro_available`.
    """
    from pyspark.sql.avro.functions import from_avro

    raw = F.col(value_col).cast("binary")
    body = (
        F.expr(f"substring({value_col}, 6, length({value_col}) - 5)")
        if confluent_wire_format
        else raw
    )
    parsed = from_avro(body, avro_schema_json, {"mode": "PERMISSIVE"})
    is_err = raw.isNotNull() & parsed.isNull()
    err = _mk_err(
        code=F.lit(E.FAILED_TO_DESERIALIZE_RECORD),
        message=F.concat(F.lit("unable to decode avro as "), F.lit(target_class)),
        target_class=F.lit(target_class),
        exception_class=F.lit("AvroRuntimeException"),
        exception_message=F.lit("malformed avro payload"),
        stacktrace=F.lit(None).cast("string"),
        raw_bytes=raw,
    )
    return df.withColumn(OK, F.when(~is_err, parsed)).withColumn(
        ERR, F.when(is_err, err)
    )


def avro_available(spark) -> bool:
    try:
        spark.range(1).select(
            F.expr("to_avro(id)")  # resolves only if spark-avro is loaded
        ).collect()
        return True
    except Exception:
        return False


def safe_from_avro_arrow(
    df: DataFrame,
    value_col: str,
    avro_schema: dict,
    target_class: str = "avro",
) -> DataFrame:
    """Jar-less Avro decode of Confluent-framed payloads:
    :func:`safe_from_avro_evolving` with ``avro_schema`` as the reader
    and as the writer of every schema id (the frame's id is not
    checked). Same ok/err contract as :func:`safe_from_avro`.

    Measured on the q73 record shape (see ``tools/bench_avro.py``):
    ~10× per-row over the compiled per-record closures.
    """
    return safe_from_avro_evolving(df, value_col, avro_schema, None, target_class)


def safe_from_avro_evolving(
    df: DataFrame,
    value_col: str,
    reader_schema: dict,
    writer_schemas_by_id: dict[int, dict] | None,
    target_class: str = "avro",
) -> DataFrame:
    """Schema-EVOLUTION-aware Avro deserialize: per-record writer
    schema dispatch on the Confluent frame's 4-byte schema id.

    Parity: the reference's registry-backed serde resolves the
    *writer* schema by the schema id embedded in every record
    (serdes/VavrSafeDeserializer.java:17-23 wrapping the Confluent
    ``SpecificAvroDeserializer``, registry config
    properties/KafkaPropertiesBuilder.java:43-55), so a topic holding
    two live schema versions decodes both. Here the *driver* resolves
    each id's writer schema once (``writer_schemas_by_id`` — see
    :func:`safe_from_avro_registry` for the registry-backed sugar)
    and bakes compiled decoders into the task closure; executors
    never talk to the registry. ``None`` decodes every id with
    ``reader_schema`` (:func:`safe_from_avro_arrow`).

    Execution per Arrow batch (``mapInArrow``, no shuffle):

    1. schema ids come from the frame bytes with one numpy gather
       (:func:`maston_spark.avro_vec.schema_ids`);
    2. when every framed row goes to one decoder (the steady state)
       the whole array decodes in one call, with no take or scatter;
       otherwise each id's rows are taken, decoded and scattered back
       to row order with one ``take``;
    3. a writer in the vectorizable subset decodes with
       :mod:`maston_spark.avro_vec` and projects to the reader shape
       with whole-column Arrow ops per the Avro-spec resolution rules
       (:func:`maston_spark.avro_codec.resolution_spec`; skipped when
       writer and reader are the same schema). Any other writer
       (arrays, maps) decodes per record with the compiled codec.

    Never-throw contract (serdes/VavrSafeDeserializer.java:29-39):
    unknown schema ids, bad framing, and per-record decode failures
    become ``err`` rows with the raw payload preserved; NULL input
    (tombstone) stays valid with NULL ``ok``.
    """
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    ok_type = AC.record_struct_type(reader_schema)
    err_type = E.error_struct_type()
    ok_pa, err_pa = to_arrow_type(ok_type), to_arrow_type(err_type)
    if writer_schemas_by_id is None:
        every_id = _avro_decoder(reader_schema, reader_schema, ok_pa)
        decoders = {}
    else:
        every_id = None
        decoders = {
            int(i): _avro_decoder(w, reader_schema, ok_pa)
            for i, w in writer_schemas_by_id.items()
        }

    def run(batches):
        for batch in batches:
            values = batch.column(value_col)
            dec = every_id
            if dec is None:
                ids = AV.schema_ids(values)
                live = np.unique(ids[ids >= 0])
                if len(live) == 1:
                    dec = decoders.get(int(live[0]))
            if dec is not None:
                ok, errors = dec(values)
            else:
                ok, errors = _decode_by_id(values, ids, decoders, ok_pa)
            yield pa.RecordBatch.from_arrays(
                batch.columns + [ok, _err_column(values, errors, target_class, err_pa)],
                names=batch.schema.names + [OK, ERR],
            )

    out_schema = StructType(
        df.schema.fields + [StructField(OK, ok_type), StructField(ERR, err_type)]
    )
    return df.mapInArrow(run, out_schema)


def _avro_decoder(writer: dict, reader: dict, ok_pa: pa.DataType):
    """``fn(values) -> (ok, errors)`` over Confluent-framed payloads
    written with ``writer``: ``ok`` is a reader-shaped StructArray,
    ``errors`` maps a row to the exception its payload raised. An
    unframed payload raises ``AvroDecodeError("not a Confluent-framed
    payload")``; a NULL payload gives a NULL ``ok``."""
    record_decode = AC.compile_resolving_record_decoder(writer, reader)

    def per_record(values: pa.Array):
        oks: list[dict | None] = []
        errors: dict[int, Exception] = {}
        for i, raw in enumerate(values.to_pylist()):
            try:
                if raw is not None and (len(raw) < 5 or raw[0]):
                    raise AC.AvroDecodeError("not a Confluent-framed payload")
                oks.append(None if raw is None else record_decode(raw[5:]))
            except Exception as exc:  # noqa: BLE001 — never-throw serde
                oks.append(None)
                errors[i] = exc
        return pa.array(oks, type=ok_pa), errors

    try:
        batch_decode = AV.compile_batch_decoder(writer)
        spec = None if writer == reader else AC.resolution_spec(writer, reader)
        if spec is not None:
            AV.arrow_struct_type(reader)  # the reader must vectorize too
    except ValueError:
        return per_record

    def vectorized(values: pa.Array):
        res = batch_decode(values, True)
        if spec is None:
            return res.ok, res.errors
        try:
            return AV.resolve_struct(res.ok, spec, reader), res.errors
        except pa.ArrowInvalid:
            # A bytes→string promotion validates UTF-8 whole-column and
            # raises on any non-UTF-8 writer bytes: re-decode per record
            # so only the bad rows become err rows.
            return per_record(values)

    return vectorized


def _decode_by_id(values: pa.Array, ids: np.ndarray, decoders: dict, ok_pa: pa.DataType):
    """Decode a batch that mixes schema ids (or holds an unknown one):
    each id's rows are taken, decoded by their writer's decoder and
    scattered back to row order by one ``take``."""
    unframed = values.is_valid().to_numpy(zero_copy_only=False) & (ids < 0)
    errors: dict[int, Exception] = {
        int(i): AC.AvroDecodeError("not a Confluent-framed payload")
        for i in np.nonzero(unframed)[0]
    }
    parts = [pa.nulls(1, ok_pa)]  # row 0: where every undecoded row points
    pos = np.zeros(len(values), dtype=np.int64)
    at = 1
    for sid in np.unique(ids[ids >= 0]):
        rows = np.nonzero(ids == sid)[0]
        dec = decoders.get(int(sid))
        if dec is None:
            for i in rows:
                errors[int(i)] = AC.AvroDecodeError(f"unknown schema id {int(sid)}")
            continue
        ok, errs = dec(values.take(pa.array(rows)))
        errors.update((int(rows[j]), exc) for j, exc in errs.items())
        parts.append(ok)
        pos[rows] = np.arange(at, at + len(rows))
        at += len(rows)
    return pa.concat_arrays(parts).take(pa.array(pos)), errors


def _err_column(
    values: pa.Array, errors: dict[int, Exception], target_class: str, err_pa: pa.DataType
) -> pa.Array:
    """The ``err`` column of a decoded batch: the failed payload's raw
    bytes and exception (serdes/VavrSafeDeserializer.java:29-39)."""
    rows: list[dict | None] = [None] * len(values)
    for i, exc in errors.items():
        rows[i] = {
            "code": E.FAILED_TO_DESERIALIZE_RECORD,
            "message": f"unable to decode avro as {target_class}",
            "target_class": target_class,
            "exception_class": type(exc).__name__,
            "exception_message": str(exc)[:256],
            "stacktrace": None,
            "raw_bytes": values[i].as_py(),
        }
    return pa.array(rows, type=err_pa)

def distinct_schema_ids(df: DataFrame, value_col: str = "value") -> list[int]:
    """Distinct Confluent schema ids present in a (batch) DataFrame's
    framed payloads — JVM-side extraction (substring/hex/conv, all
    codegen), driver collects only the tiny distinct id set. For
    streaming sources pass ``known_ids`` to
    :func:`safe_from_avro_registry` instead (or call this inside
    ``foreachBatch``)."""
    rows = (
        df.filter(
            (F.length(value_col) >= 5)
            & (F.expr(f"substring({value_col}, 1, 1)") == F.lit(b"\x00"))
        )
        .select(
            F.conv(F.hex(F.expr(f"substring({value_col}, 2, 4)")), 16, 10)
            .cast("long")
            .alias("sid")
        )
        .distinct()
        .collect()
    )
    return sorted(int(r.sid) for r in rows)


def safe_from_avro_registry(
    df: DataFrame,
    value_col: str,
    client,
    subject: str,
    known_ids: list[int] | None = None,
    reader_schema: dict | None = None,
    target_class: str = "avro",
) -> DataFrame:
    """Registry-backed sugar over :func:`safe_from_avro_evolving`:
    reader = the subject's latest schema (or an explicit override),
    writers = ``get_by_id`` for every id observed in the data (batch)
    or for ``known_ids`` (streams). One registry round-trip per
    schema version, driver-side only — the Spark-first analogue of
    the reference's per-record Confluent registry lookup (cached
    after first hit) in serdes/VavrSafeSerdesBuilder.java:17-23."""
    reader = reader_schema or client.get_latest(subject).schema
    ids = known_ids if known_ids is not None else distinct_schema_ids(df, value_col)
    writers = {i: client.get_by_id(i).schema for i in ids}
    return safe_from_avro_evolving(df, value_col, reader, writers, target_class)


def branch_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, invalid) — parity: the two-predicate branch
    in topology/TopologyBuilder.java:36-37.

    Both children share the parent plan; under ``foreachBatch`` the
    caller should ``persist()`` the batch before branching so the
    source is scanned once.
    """
    return df.filter(F.col(ERR).isNull()), df.filter(F.col(ERR).isNotNull())


def process_validated(
    df: DataFrame,
    *,
    error_when: Column,
    error_code: str = E.FAILED_TO_PROCESS_RECORD,
    error_message: Column | None = None,
    transform: Callable[[Column], Column] | None = None,
    target_class: str = "record",
) -> DataFrame:
    """Apply a business-rule processor to valid rows.

    Parity: transformer/TransformerBuilder.java:34-73 — run the user
    processor on each valid record; if it reports an error, replace
    the value with invalid(error{sourceRecord=record}); already
    invalid rows pass through untouched.

    Expression fast path: ``error_when`` is a Column predicate over
    ``ok.*``; rows (with ok non-null) matching it become errors with
    ``source_record`` preserved. ``transform`` optionally rewrites
    the surviving ``ok`` struct. This keeps the hot path 100%
    JVM-side; use :func:`process_validated_pandas` for arbitrary
    Python logic.
    """
    ok = F.col(OK)
    ok_type = df.schema[OK].dataType
    err_fields = [f.name for f in df.schema[ERR].dataType.fields] if ERR in df.columns else []
    failing = F.col(ERR).isNull() & ok.isNotNull() & error_when
    msg = error_message if error_message is not None else F.lit("record rejected by processor")
    new_err = _mk_err(
        code=F.lit(error_code),
        message=msg,
        target_class=F.lit(target_class),
        exception_class=F.lit(None).cast("string"),
        exception_message=F.lit(None).cast("string"),
        stacktrace=F.lit(None).cast("string"),
        raw_bytes=F.lit(None).cast("binary"),
        source_record=ok,
    )
    prior_err = F.col(ERR)
    if err_fields and "source_record" not in err_fields:
        prior_err = prior_err.withField("source_record", F.lit(None).cast(ok_type))
    out = df.withColumn(ERR, F.when(failing, new_err).otherwise(prior_err))
    new_ok = F.when(F.col(ERR).isNull(), transform(ok) if transform else ok)
    return out.withColumn(OK, new_ok)


def process_validated_pandas(df: DataFrame, fn, output_schema) -> DataFrame:
    """Arbitrary-Python processor via Arrow-batched ``mapInPandas``.

    ``fn(pdf) -> pdf`` receives/returns pandas batches with ``ok``
    and ``err`` (dict-encoded structs). ~10-100x faster than a
    row-at-a-time Python UDF; still slower than the expression fast
    path — prefer :func:`process_validated` when expressible.
    """
    return df.mapInPandas(fn, output_schema)


def with_error_headers(
    df: DataFrame,
    app_id: str,
    *,
    headers_col: str = "headers",
    topic_col: str | None = None,
    partition_col: str | None = None,
    offset_col: str | None = None,
    timestamp_col: str | None = None,
) -> DataFrame:
    """Attach the 11 provenance headers for rows with a non-null ``err``.

    Parity: error/KafkaErrorToHeaderBuilder.java:16-26 (keys) and
    :39-80 (flush-then-write idempotency). Idempotency here =
    existing ``maston.error.*`` headers are removed before the fresh
    set is appended, so re-processing a record yields byte-identical
    headers.
    """

    def b(col: Column) -> Column:  # header values are bytes on the wire
        return F.encode(col.cast("string"), "UTF-8")

    def hdr(key: str, val: Column) -> Column:
        return F.struct(F.lit(key).alias("key"), b(val).alias("value"))

    err = F.col(ERR)
    meta = {
        E.HEADER_SOURCE_TOPIC: F.col(topic_col) if topic_col else F.lit(None).cast("string"),
        E.HEADER_SOURCE_PARTITION: F.col(partition_col) if partition_col else F.lit(None).cast("string"),
        E.HEADER_SOURCE_OFFSET: F.col(offset_col) if offset_col else F.lit(None).cast("string"),
        E.HEADER_TIMESTAMP: F.col(timestamp_col) if timestamp_col else F.lit(None).cast("string"),
    }
    new_headers = F.array(
        hdr(E.HEADER_APP_ID, F.lit(app_id)),
        hdr(E.HEADER_TIMESTAMP, meta[E.HEADER_TIMESTAMP]),
        hdr(E.HEADER_SOURCE_TOPIC, meta[E.HEADER_SOURCE_TOPIC]),
        hdr(E.HEADER_SOURCE_PARTITION, meta[E.HEADER_SOURCE_PARTITION]),
        hdr(E.HEADER_SOURCE_OFFSET, meta[E.HEADER_SOURCE_OFFSET]),
        hdr(E.HEADER_CODE, err["code"]),
        hdr(E.HEADER_MESSAGE, err["message"]),
        hdr(E.HEADER_TARGET_CLASS, err["target_class"]),
        hdr(E.HEADER_EXCEPTION_CLASS, err["exception_class"]),
        hdr(E.HEADER_EXCEPTION_MESSAGE, err["exception_message"]),
        hdr(E.HEADER_EXCEPTION_STACKTRACE, err["stacktrace"]),
    )
    existing = (
        F.col(headers_col)
        if headers_col in df.columns
        else F.lit(None).cast(E.HEADERS_TYPE)
    )
    # flush-then-write: strip any previous maston.error.* headers first
    flushed = F.filter(
        F.coalesce(existing, F.array().cast(E.HEADERS_TYPE)),
        lambda h: ~h["key"].startswith("maston.error."),
    )
    return df.withColumn(
        headers_col,
        F.when(err.isNotNull(), F.concat(flushed, new_headers)).otherwise(existing),
    )


def flatten_headers(
    df: DataFrame,
    *,
    headers_col: str = "headers",
    keys: tuple[str, ...] = E.ALL_ERROR_HEADER_KEYS,
    drop_headers: bool = True,
) -> DataFrame:
    """Promote headers to top-level string fields (``.`` → ``_``).

    Parity: error/HeaderTo.java:39-196 — the Kafka Connect SMT that
    lifts the 11 error headers onto the record before landing in a
    search index, then removes the headers channel.
    """
    out = df
    for key in keys:
        field = key.replace(".", "_")
        match = F.filter(F.col(headers_col), lambda h: h["key"] == F.lit(key))
        out = out.withColumn(
            field,
            F.when(
                F.size(match) > 0, F.decode(F.element_at(match, 1)["value"], "UTF-8")
            ),
        )
    if drop_headers:
        out = out.drop(headers_col)
    return out


def safe_serialize_json(df: DataFrame, out_col: str = "value_out") -> DataFrame:
    """Sink-side safe serialization.

    Parity: serdes/VavrSafeSerializer.java:26-52 — valid record →
    serialized bytes; invalid with original bytes → bytes verbatim;
    invalid with only a source record → re-serialized source record;
    otherwise empty bytes (headers still carry the diagnostics).
    Never throws.
    """
    err = F.col(ERR)
    # err may or may not carry source_record depending on upstream ops
    try:
        err_fields = [f.name for f in df.schema[ERR].dataType.fields]
    except Exception:
        err_fields = []
    src = (
        F.to_json(err["source_record"]).cast("binary")
        if "source_record" in err_fields
        else F.lit(None).cast("binary")
    )
    out = (
        F.when(err.isNull() & F.col(OK).isNotNull(), F.to_json(F.col(OK)).cast("binary"))
        .when(err.isNotNull(), F.coalesce(err["raw_bytes"], src, F.lit(b"")))
        .otherwise(F.lit(None).cast("binary"))
    )
    return df.withColumn(out_col, out)


def safe_serialize_avro(
    df: DataFrame,
    avro_schema: dict,
    schema_id: int,
    out_col: str = "value_out",
) -> DataFrame:
    """Produce-side Avro safe serializer — the Confluent-framed twin
    of :func:`safe_serialize_json`.

    Parity: serdes/VavrSafeSerializer.java:26-52 wrapping the
    registry Avro serializer — valid record → magic byte + 4-byte
    ``schema_id`` + Avro body; invalid with original bytes → bytes
    verbatim; invalid with only a source record → re-serialized
    source record; otherwise empty bytes (headers still carry the
    diagnostics). Never throws: a record the schema cannot encode
    degrades to empty bytes rather than failing the task.

    ``schema_id`` is what the registry assigned the schema — resolve
    driver-side via
    :meth:`maston_spark.registry.SchemaRegistryClient.schema_id_for`
    (which honors the reference's AUTO_REGISTER_SCHEMAS flag).
    Runs Arrow-batched per partition (``mapInArrow``): the ok column
    encodes as per-field numpy passes (~2.6× the compiled per-record
    loop, see ``tools/bench_avro.py``), or per record with the
    compiled encoder for a schema outside the vectorizable subset;
    only the (rare) err rows take per-row Python, spliced in with one
    rebuild. The encoders compile once, driver side.
    """
    from pyspark.sql.types import BinaryType, StructField, StructType

    out_schema = StructType(df.schema.fields + [StructField(out_col, BinaryType())])
    encode = AC.compile_record_encoder(avro_schema)
    frame = AC.confluent_wrap(schema_id, b"")

    def framed(rec: dict) -> bytes:
        try:
            return frame + encode(rec)
        except Exception:  # noqa: BLE001 — never-throw serializer
            return b""

    try:
        batch_encode = AV.compile_batch_encoder(avro_schema)
    except ValueError:  # outside the vectorizable subset: per record

        def batch_encode(ok: pa.Array, prefix: bytes) -> pa.Array:
            recs = ok.to_pylist()
            return pa.array([None if r is None else framed(r) for r in recs], pa.binary())

    def run(batches):
        for batch in batches:
            err = batch.column(ERR)
            encoded = batch_encode(batch.column(OK), frame)
            patched: dict[int, bytes] = {}
            for i in np.nonzero(err.is_valid().to_numpy(zero_copy_only=False))[0]:
                e = err[int(i)].as_py()
                raw, src = e.get("raw_bytes"), e.get("source_record")
                if raw is not None:
                    patched[int(i)] = raw
                else:
                    patched[int(i)] = b"" if src is None else framed(src)
            out = AV.patch_binary(encoded, patched) if patched else encoded
            yield pa.RecordBatch.from_arrays(
                batch.columns + [out], names=batch.schema.names + [out_col]
            )

    return df.mapInArrow(run, out_schema)


def replay_dlq(
    dlq: DataFrame,
    value_schema,
    *,
    value_col: str = "value",
    headers_col: str = "headers",
    value_format: str = "json",
    lineage_col: str = "replay_lineage",
) -> DataFrame:
    """Re-ingest dead-letter records — the second half of the DLQ
    story the error channel exists for: the error sink re-emitted
    every failed record's ORIGINAL bytes verbatim
    (serdes/VavrSafeSerializer.java:26-52's never-lose-a-record
    contract), so after the bug is fixed the quarantined topic can be
    replayed through the same validated-ingest front door. Takes a
    DLQ frame as the kafka error sink wrote it (binary ``value`` =
    original payload, ``headers`` = the 11 ``maston.error.*``
    provenance headers) and returns a fresh validated frame
    (``ok``/``err``), with the PRIOR attempt's headers preserved
    under ``lineage_col`` — a record that fails again gets fresh
    provenance from the normal enrichment path while its history
    stays attached, so replay loops are auditable (and
    ``with_error_headers``'s flush-then-write idempotency guarantees
    the fresh set never duplicates keys with itself).

    Pure projection + the standard safe parse — no state, no
    shuffle; replaying a 100 TB DLQ is exactly as parallel as the
    original ingest.
    """
    if headers_col in dlq.columns and lineage_col in dlq.columns:
        # second-pass replay: the frame already carries lineage from a
        # prior attempt — STACK the latest headers onto it (full audit
        # trail) instead of silently producing two same-named columns
        src = dlq.withColumn(
            lineage_col,
            F.concat(
                F.coalesce(F.col(lineage_col), F.array().cast(E.HEADERS_TYPE)),
                F.coalesce(F.col(headers_col), F.array().cast(E.HEADERS_TYPE)),
            ),
        ).drop(headers_col)
    elif headers_col in dlq.columns:
        src = dlq.withColumnRenamed(headers_col, lineage_col)
    else:
        src = dlq.withColumn(lineage_col, F.lit(None).cast(E.HEADERS_TYPE))
    if value_format == "json":
        return safe_from_json(src, value_col, value_schema)
    if value_format == "avro":
        return safe_from_avro_arrow(src, value_col, value_schema)
    raise ValueError(f"unsupported value_format {value_format!r}")


def schema_drift_report(
    df: DataFrame,
    json_col: str,
    declared_fields: list[str],
) -> DataFrame:
    """Ingestion schema-drift detector: which fields are ARRIVING in
    the JSON payloads that the declared schema doesn't know —
    ``(field, n_records, sample_value)``. The operational complement
    of the Avro evolution path (there the registry names the writer
    schema; JSON producers just start sending new fields, and
    ``from_json`` silently drops them — this report is how the
    consumer team finds out before the data is lost for good).

    Scale shape: one pass parses each payload as an open
    ``map<string,string>`` (values stringified), explodes to
    (field, value) pairs, filters to undeclared fields (a literal
    isin — no join), and combiner-reduces to one row per novel field
    with a deterministic ``min`` sample value.
    """
    m = F.from_json(F.col(json_col), "map<string,string>")
    pairs = df.select(F.explode(m).alias("field", "__v"))
    return (
        pairs.filter(~F.col("field").isin(*declared_fields))
        .groupBy("field")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.min("__v").alias("sample_value"),
        )
    )
