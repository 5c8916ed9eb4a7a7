"""Validated-ingest operators: safe deserialization, branch, process,
error-header provenance, header flattening, safe serialization.

These reproduce the semantics of the reference's serde/transformer
layer (citations inline) as pure DataFrame column algebra. No Python
runs per-row in any of these — everything is Catalyst expressions,
so the whole layer stays inside whole-stage codegen and scales
linearly with executors at 100 TB.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, functions as F

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
    confluent_wire_format: bool = True,
) -> DataFrame:
    """Vectorized executable Avro path (no spark-avro jar needed).

    Decodes Confluent-framed Avro binary with the numpy/pyarrow batch
    decoder (:mod:`maston_spark.avro_vec`) inside ``mapInArrow`` —
    per-partition, Arrow-batched, no shuffle, and (unlike
    :func:`safe_from_avro_python`) no per-record Python in the hot
    loop: fields decode as whole-batch numpy passes and the ok struct
    is assembled directly from Arrow buffers. Records the vectorized
    pass can't handle (corruption, rare legal shapes) re-decode
    through the compiled per-record codec, so ok/err semantics —
    including error classes and messages — are byte-identical to the
    per-record path and to the never-throw contract of
    serdes/VavrSafeDeserializer.java:29-39.

    Falls back to :func:`safe_from_avro_python` wholesale when the
    schema uses features outside the vectorizable subset.

    Measured on the q73 record shape (see ``tools/bench_avro.py``):
    ~10× per-row over the compiled per-record closures.
    """
    import pyarrow as pa

    from pyspark.sql.types import StructField, StructType

    from maston_spark import avro_codec as AC
    from maston_spark import avro_vec as AV

    try:
        batch_decode = AV.compile_batch_decoder(avro_schema)
    except ValueError:
        return safe_from_avro_python(
            df, value_col, avro_schema, target_class, confluent_wire_format
        )

    ok_type = AC.record_struct_type(avro_schema)
    err_type = E.error_struct_type()
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(OK, ok_type), StructField(ERR, err_type)]
    )
    err_pa_type = pa.struct(
        [
            pa.field("code", pa.string()),
            pa.field("message", pa.string()),
            pa.field("target_class", pa.string()),
            pa.field("exception_class", pa.string()),
            pa.field("exception_message", pa.string()),
            pa.field("stacktrace", pa.string()),
            pa.field("raw_bytes", pa.binary()),
        ]
    )

    def run(batches):
        for batch in batches:
            names = list(batch.schema.names)
            values = batch.column(names.index(value_col))
            res = batch_decode(values, confluent_wire_format)
            err_list: list[dict | None] = [None] * batch.num_rows
            for i, exc in res.errors.items():
                err_list[i] = {
                    "code": E.FAILED_TO_DESERIALIZE_RECORD,
                    "message": f"unable to decode avro as {target_class}",
                    "target_class": target_class,
                    "exception_class": type(exc).__name__,
                    "exception_message": str(exc)[:256],
                    "stacktrace": None,
                    "raw_bytes": bytes(values[i].as_py()),
                }
            err_arr = pa.array(err_list, type=err_pa_type)
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [res.ok, err_arr], names=names + [OK, ERR]
            )

    return df.mapInArrow(run, out_schema)


def safe_from_avro_evolving(
    df: DataFrame,
    value_col: str,
    reader_schema: dict,
    writer_schemas_by_id: dict[int, dict],
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
    never talk to the registry.

    Execution per Arrow batch (``mapInArrow``, no shuffle):

    1. schema ids are extracted VECTORIZED from the frame bytes
       (one numpy gather, no per-record Python);
    2. rows group by id; each group decodes with its writer-compiled
       vectorized batch decoder (:mod:`maston_spark.avro_vec`), then
       projects to the reader shape with whole-column Arrow
       select/cast/fill ops per the Avro-spec resolution rules
       (:func:`maston_spark.avro_codec.resolution_spec` — name
       matching, defaults, int→long/float→double/string↔bytes
       promotions);
    3. groups scatter back to row order with one ``take``. The
       steady-state single-id batch skips the scatter entirely.

    Never-throw contract (serdes/VavrSafeDeserializer.java:29-39):
    unknown schema ids, bad framing, and per-record decode failures
    become ``err`` rows with the raw payload preserved; NULL input
    (tombstone) stays valid with NULL ``ok``.

    At 100 TB this is the right shape: the id dispatch is O(batch)
    numpy, decoders compile once per executor (closure), and a new
    schema version rolling through a topic costs one extra group per
    transitional batch — steady-state batches stay single-group.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import StructField, StructType

    from maston_spark import avro_codec as AC
    from maston_spark import avro_vec as AV

    struct_pa_type = AV.arrow_struct_type(reader_schema)

    def _make_group_decoder(writer: dict):
        spec = AC.resolution_spec(writer, reader_schema)

        def _make_slow():
            rec_decode = AC.compile_resolving_record_decoder(writer, reader_schema)

            def dec_slow(sub: pa.Array):
                oks: list[dict | None] = []
                errs: dict[int, Exception] = {}
                for j in range(len(sub)):
                    raw = bytes(sub[j].as_py())
                    try:
                        oks.append(rec_decode(raw[5:]))
                    except Exception as exc:  # noqa: BLE001 — never-throw serde
                        oks.append(None)
                        errs[j] = exc
                return pa.array(oks, type=struct_pa_type), errs

            return dec_slow

        try:
            batch_decode = AV.compile_batch_decoder(writer)
        except ValueError:
            return _make_slow()

        slow_holder: list = []

        def dec_fast(sub: pa.Array):
            res = batch_decode(sub, True)
            try:
                return AV.resolve_struct(res.ok, spec, reader_schema), res.errors
            except pa.ArrowInvalid:
                # A bytes→string promotion cast validates UTF-8 whole-column
                # and raises on any non-UTF8 writer bytes. Never-throw
                # contract: re-decode the group per record so only the bad
                # rows become err rows instead of the cast killing the task.
                if not slow_holder:
                    slow_holder.append(_make_slow())
                return slow_holder[0](sub)

        return dec_fast

    decoders = {int(i): _make_group_decoder(w) for i, w in writer_schemas_by_id.items()}

    ok_type = AC.record_struct_type(reader_schema)
    err_type = E.error_struct_type()
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(OK, ok_type), StructField(ERR, err_type)]
    )
    err_pa_type = pa.struct(
        [
            pa.field("code", pa.string()),
            pa.field("message", pa.string()),
            pa.field("target_class", pa.string()),
            pa.field("exception_class", pa.string()),
            pa.field("exception_message", pa.string()),
            pa.field("stacktrace", pa.string()),
            pa.field("raw_bytes", pa.binary()),
        ]
    )

    def _err(values: pa.Array, i: int, exc_msg: str, exc_class: str = "AvroDecodeError"):
        return {
            "code": E.FAILED_TO_DESERIALIZE_RECORD,
            "message": f"unable to decode avro as {target_class}",
            "target_class": target_class,
            "exception_class": exc_class,
            "exception_message": exc_msg[:256],
            "stacktrace": None,
            "raw_bytes": bytes(values[i].as_py()),
        }

    def run(batches):
        for batch in batches:
            names = list(batch.schema.names)
            values = batch.column(names.index(value_col))
            if isinstance(values, pa.ChunkedArray):
                values = values.combine_chunks()
            n = len(values)
            null_in = values.is_null().to_numpy(zero_copy_only=False)
            bufs = values.buffers()
            odt = np.int64 if pa.types.is_large_binary(values.type) else np.int32
            offs = (
                np.frombuffer(bufs[1], dtype=odt)[
                    values.offset : values.offset + n + 1
                ].astype(np.int64)
                if bufs[1] is not None
                else np.zeros(n + 1, dtype=np.int64)
            )
            data = (
                np.frombuffer(bufs[2], dtype=np.uint8)
                if bufs[2] is not None
                else np.empty(0, dtype=np.uint8)
            )
            starts, lengths = offs[:-1], offs[1:] - offs[:-1]
            framed = (~null_in) & (lengths >= 5)
            if len(data):
                framed &= data[np.minimum(starts, len(data) - 1)] == 0
            ids = np.full(n, -1, dtype=np.int64)
            fidx = np.nonzero(framed)[0]
            if len(fidx):
                p = starts[fidx]
                ids[fidx] = (
                    (data[p + 1].astype(np.int64) << 24)
                    | (data[p + 2].astype(np.int64) << 16)
                    | (data[p + 3].astype(np.int64) << 8)
                    | data[p + 4].astype(np.int64)
                )

            err_list: list[dict | None] = [None] * n
            for i in np.nonzero((~null_in) & ~framed)[0]:
                err_list[int(i)] = _err(values, int(i), "not a Confluent-framed payload")

            groups: list[tuple] = []  # (row idx array, reader-shaped StructArray)
            for sid in np.unique(ids[fidx]) if len(fidx) else []:
                gidx = np.nonzero(framed & (ids == sid))[0]
                dec = decoders.get(int(sid))
                if dec is None:
                    for i in gidx:
                        err_list[int(i)] = _err(
                            values, int(i), f"unknown schema id {int(sid)}"
                        )
                    continue
                if len(gidx) == n:  # steady state: one id covers the batch
                    ok_arr, errs = dec(values)
                    for j, exc in errs.items():
                        err_list[int(j)] = _err(
                            values, int(j), str(exc), type(exc).__name__
                        )
                    groups = [(gidx, ok_arr)]
                    break
                sub = values.take(pa.array(gidx))
                ok_sub, errs = dec(sub)
                for j, exc in errs.items():
                    err_list[int(gidx[j])] = _err(
                        values, int(gidx[j]), str(exc), type(exc).__name__
                    )
                groups.append((gidx, ok_sub))

            if len(groups) == 1 and len(groups[0][0]) == n:
                ok_arr = groups[0][1]
            else:
                covered = (
                    np.concatenate([g[0] for g in groups])
                    if groups
                    else np.empty(0, dtype=np.int64)
                )
                rest = np.setdiff1d(np.arange(n, dtype=np.int64), covered)
                order = np.concatenate([covered, rest])
                parts = [g[1] for g in groups]
                if len(rest):
                    parts.append(pa.nulls(len(rest), struct_pa_type))
                combined = (
                    pa.concat_arrays([p.cast(struct_pa_type) for p in parts])
                    if parts
                    else pa.nulls(0, struct_pa_type)
                )
                inv = np.empty(n, dtype=np.int64)
                inv[order] = np.arange(n, dtype=np.int64)
                ok_arr = combined.take(pa.array(inv))

            err_arr = pa.array(err_list, type=err_pa_type)
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [ok_arr, err_arr], names=names + [OK, ERR]
            )

    return df.mapInArrow(run, out_schema)


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


def safe_from_avro_python(
    df: DataFrame,
    value_col: str,
    avro_schema: dict,
    target_class: str = "avro",
    confluent_wire_format: bool = True,
) -> DataFrame:
    """Executable Avro fallback when the spark-avro jar is absent.

    Decodes Confluent-framed Avro binary with the pure-Python codec
    in :mod:`maston_spark.avro_codec` inside ``mapInPandas``
    (Arrow-batched, per-partition, no shuffle). Same ok/err output
    contract as :func:`safe_from_avro`; same never-throw semantics
    as serdes/VavrSafeDeserializer.java:29-39 — any decode failure
    (bad framing, truncated varint, trailing bytes) lands in ``err``
    with the raw payload preserved. NULL input (tombstone) stays
    valid with NULL ``ok``.
    """
    from pyspark.sql.types import StructField, StructType

    from maston_spark import avro_codec as AC

    ok_type = AC.record_struct_type(avro_schema)
    err_type = E.error_struct_type()
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(OK, ok_type), StructField(ERR, err_type)]
    )

    # schema dispatch compiled ONCE (driver side, shipped in the task
    # closure); the per-record loop below is positional byte parsing
    # with a zero-cost-when-ok try/except — no per-row schema walking
    decode = AC.compile_record_decoder(avro_schema)

    def run(batches):
        for pdf in batches:
            oks, errs = [], []
            ok_append, err_append = oks.append, errs.append
            for v in pdf[value_col].tolist():
                if v is None:
                    ok_append(None)
                    err_append(None)
                    continue
                raw = bytes(v)
                try:
                    if confluent_wire_format:
                        if len(raw) < 5 or raw[0]:
                            raise AC.AvroDecodeError(
                                "not a Confluent-framed payload"
                            )
                        body = raw[5:]
                    else:
                        body = raw
                    ok_append(decode(body))
                    err_append(None)
                except Exception as exc:  # noqa: BLE001 — never-throw serde
                    ok_append(None)
                    err_append(
                        {
                            "code": E.FAILED_TO_DESERIALIZE_RECORD,
                            "message": f"unable to decode avro as {target_class}",
                            "target_class": target_class,
                            "exception_class": type(exc).__name__,
                            "exception_message": str(exc)[:256],
                            "stacktrace": None,
                            "raw_bytes": raw,
                        }
                    )
            out = pdf.copy()
            out[OK] = oks
            out[ERR] = errs
            yield out

    return df.mapInPandas(run, out_schema)


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
    Runs Arrow-batched per partition (``mapInPandas``); the encoder
    closures compile once per executor.
    """
    from pyspark.sql.types import BinaryType, StructField, StructType

    from maston_spark import avro_codec as AC

    out_schema = StructType(list(df.schema.fields) + [StructField(out_col, BinaryType())])
    try:
        err_fields = [f.name for f in df.schema[ERR].dataType.fields]
    except Exception:
        err_fields = []
    has_src = "source_record" in err_fields
    # encoders compile ONCE (driver side, shipped in the task closure);
    # the 5-byte Confluent frame is a precomputed constant prefix
    encode = AC.compile_record_encoder(avro_schema)
    frame = AC.confluent_wrap(schema_id, b"")

    try:
        from maston_spark import avro_vec as AV

        batch_encode = AV.compile_batch_encoder(avro_schema)
    except ValueError:
        batch_encode = None

    if batch_encode is not None:
        # VECTORIZED produce path (mapInArrow): the whole ok column
        # encodes as per-field numpy passes (~2.6× the compiled
        # per-record loop, see tools/bench_avro.py); only the (rare)
        # err rows take per-row Python, spliced in with one rebuild.
        import numpy as np
        import pyarrow as pa

        from maston_spark.avro_vec import patch_binary

        def run_arrow(batches):
            for batch in batches:
                names = list(batch.schema.names)
                ok = batch.column(names.index(OK))
                err = batch.column(names.index(ERR))
                if isinstance(ok, pa.ChunkedArray):
                    ok = ok.combine_chunks()
                if isinstance(err, pa.ChunkedArray):
                    err = err.combine_chunks()
                encoded = batch_encode(ok, frame)
                err_rows = np.nonzero(
                    err.is_valid().to_numpy(zero_copy_only=False)
                )[0]
                patched: dict[int, bytes] = {}
                for i in err_rows:
                    e = err[int(i)].as_py()
                    raw = e.get("raw_bytes")
                    if raw is not None:
                        patched[int(i)] = bytes(raw)
                        continue
                    src = e.get("source_record") if has_src else None
                    if src is None:
                        patched[int(i)] = b""
                        continue
                    try:
                        patched[int(i)] = frame + encode(src)
                    except Exception:  # noqa: BLE001 — never-throw
                        patched[int(i)] = b""
                out = patch_binary(encoded, patched) if patched else encoded
                yield pa.RecordBatch.from_arrays(
                    list(batch.columns) + [out], names=names + [out_col]
                )

        return df.mapInArrow(run_arrow, out_schema)

    def run(batches):
        for pdf in batches:
            values: list = []
            for ok, err in zip(pdf[OK], pdf[ERR]):
                if err is None and ok is not None:
                    rec = ok
                elif err is not None:
                    raw = err.get("raw_bytes")
                    if raw is not None:
                        values.append(bytes(raw))
                        continue
                    src = err.get("source_record") if has_src else None
                    if src is None:
                        values.append(b"")
                        continue
                    rec = src
                else:
                    values.append(None)
                    continue
                try:
                    values.append(frame + encode(rec))
                except Exception:  # noqa: BLE001 — never-throw serializer
                    values.append(b"")
            out = pdf.copy()
            out[out_col] = values
            yield out

    return df.mapInPandas(run, out_schema)


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
