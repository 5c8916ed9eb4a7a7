"""Pure-Python Avro binary codec + Confluent wire-format framing.

The environment ships Spark without the ``spark-avro`` connector jar
(``from_avro``/``to_avro`` don't resolve — see
:func:`maston_spark.validated.avro_available`), so the executable
Avro path is hand-written. This module is its per-record codec: it
implements the Avro 1.x binary encoding spec for the subset the
reference's records use — primitives, ``["null", X]`` unions,
arrays, maps, and the ``decimal`` logical type on ``bytes``
(two's-complement big-endian unscaled int) — plus the OCF container
format and writer→reader schema resolution.

Parity targets in the reference:
- serdes/VavrSafeDeserializer.java:29-39 — try-decode, on failure
  wrap the raw bytes in an error instead of crashing.
- properties/KafkaPropertiesBuilder.java:43-55 — Confluent
  registry-framed payloads: 1 magic byte (0x00) + 4-byte big-endian
  schema id, then the Avro body. :func:`confluent_wrap`/
  :func:`confluent_unwrap` reproduce that framing.
- mapper/AvroByteBufferToBigDecimalMapper.java:13-26 — decimal
  logical-type bytes -> BigDecimal, including inside a
  ``["null", bytes-decimal]`` union (the shape of
  src/test/resources/dummy-avro-record.avsc:27-38).

Scale note: the serde operators in :mod:`maston_spark.validated` run
under ``mapInArrow`` — per-partition Python, Arrow-batched, no
shuffle, no driver involvement; they parallelize linearly with
executors. Whole batches decode and encode with the numpy passes of
:mod:`maston_spark.avro_vec`; this codec decodes the records those
passes cannot (corrupt or rare shapes) and every record of a schema
outside their subset (arrays, maps). When a real cluster has the
spark-avro jar, ``validated.safe_from_avro`` is the preferred
JVM-side path and shares the same ok/err output contract.
"""

from __future__ import annotations

import decimal
import io
import json
import struct
from typing import Any

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAGIC = b"\x00"

_INT32_MIN, _INT32_MAX = -(1 << 31), (1 << 31) - 1


class AvroDecodeError(ValueError):
    pass


# --------------------------------------------------------------- varint


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(out: io.BytesIO, n: int) -> None:
    n = _zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def read_long(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise AvroDecodeError("truncated varint")
        b = raw[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            if acc >> 64:
                raise AvroDecodeError("varint overflows 64 bits")
            return _zigzag_decode(acc)
        shift += 7
        # Avro longs are at most 10 bytes (9 continuation bytes →
        # shift 63); an 11th byte means a malformed varint that would
        # decode past int64 — reject here, inside try-decode, instead
        # of failing later at the Arrow/LongType boundary
        if shift > 63:
            raise AvroDecodeError("varint too long")


# --------------------------------------------------------------- schema model


def _is_decimal(sch: Any) -> bool:
    return (
        isinstance(sch, dict)
        and sch.get("type") == "bytes"
        and sch.get("logicalType") == "decimal"
    )


_SPARK_MAX_PRECISION = 38


def _capped_decimal(sch: dict) -> tuple[int, int]:
    """(precision, scale) clamped to Spark's decimal128 limits."""
    p = min(int(sch.get("precision", _SPARK_MAX_PRECISION)), _SPARK_MAX_PRECISION)
    s = min(int(sch.get("scale", 0)), p)
    return p, s


def _type_name(sch: Any) -> Any:
    if isinstance(sch, dict) and not isinstance(sch, list):
        return sch.get("type")
    return sch


def spark_type_for(sch: Any) -> DataType:
    """Map an Avro (sub)schema to the Spark type its decode yields."""
    if isinstance(sch, list):  # union — only ["null", X] supported
        branches = [b for b in sch if b != "null"]
        if len(branches) != 1:
            raise ValueError(f"unsupported union {sch!r}")
        return spark_type_for(branches[0])
    if _is_decimal(sch):
        # Avro allows arbitrary precision (the reference's test schema
        # declares 64); Spark's DecimalType tops out at 38 digits, so
        # both precision and scale clamp there (scale ≤ precision is a
        # DecimalType invariant). Values not exactly representable in
        # the capped type are nulled by the DECODER (see _decode_value)
        # — pyarrow raises ArrowInvalid for out-of-range decimal128
        # values rather than nulling, so the cap must land before the
        # Arrow boundary to keep the never-throw serde contract.
        p, s = _capped_decimal(sch)
        return DecimalType(p, s)
    t = _type_name(sch)
    if t == "array":
        from pyspark.sql.types import ArrayType

        return ArrayType(spark_type_for(sch["items"]))
    if t == "map":  # Avro map keys are always strings
        from pyspark.sql.types import MapType

        return MapType(StringType(), spark_type_for(sch["values"]))
    mapping = {
        "null": StringType(),
        "boolean": BooleanType(),
        "int": IntegerType(),
        "long": LongType(),
        "float": FloatType(),
        "double": DoubleType(),
        "bytes": BinaryType(),
        "string": StringType(),
    }
    if t in mapping:
        return mapping[t]
    raise ValueError(f"unsupported avro type {sch!r}")


def record_struct_type(schema: dict) -> StructType:
    return StructType(
        [StructField(f["name"], spark_type_for(f["type"])) for f in schema["fields"]]
    )


# --------------------------------------------------------------- encode


def _append_varint(out: bytearray, n: int) -> None:
    """Zigzag varint append — the bytearray twin of :func:`write_long`."""
    n = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)


def _compile_enc(sch: Any):
    """Compile an Avro (sub)schema to ``fn(out: bytearray, val)``.

    The encode twin of :func:`_compile`: schema dispatch (dict
    walking, isinstance checks, logical-type lookups) happens ONCE at
    compile time; per record only the value-appending closures run —
    measured ~4× over the schema-walking encoder on the q73 record
    shape, which matters when the safe SERIALIZER is the hot loop of
    a produce-side backfill (serdes/VavrSafeSerializer.java:26-52).
    """
    if isinstance(sch, list):  # union: branch index then value
        if "null" in sch:
            null_prefix = bytearray()
            _append_varint(null_prefix, sch.index("null"))
            null_prefix = bytes(null_prefix)
        else:
            null_prefix = None
        branch = next(i for i, b in enumerate(sch) if b != "null")
        val_prefix = bytearray()
        _append_varint(val_prefix, branch)
        val_prefix = bytes(val_prefix)
        child = _compile_enc(sch[branch])

        def enc_union(out, val, _np=null_prefix, _vp=val_prefix, _child=child):
            if val is None:
                if _np is None:
                    raise ValueError("null for non-nullable union")
                out += _np
            else:
                out += _vp
                _child(out, val)

        return enc_union
    if _is_decimal(sch):
        scale = int(sch.get("scale", 0))

        def enc_decimal(out, val, _scale=scale):
            d = val if isinstance(val, decimal.Decimal) else decimal.Decimal(str(val))
            unscaled = int(
                d.scaleb(_scale).to_integral_value(rounding=decimal.ROUND_HALF_UP)
            )
            body = unscaled.to_bytes(
                max(1, (unscaled.bit_length() + 8) // 8), "big", signed=True
            )
            _append_varint(out, len(body))
            out += body

        return enc_decimal
    t = _type_name(sch)
    if t == "array":
        child = _compile_enc(sch["items"])

        def enc_array(out, val, _child=child):
            items = list(val)
            if items:
                _append_varint(out, len(items))
                for item in items:
                    _child(out, item)
            out.append(0)  # varint 0 terminator

        return enc_array
    if t == "map":
        child = _compile_enc(sch["values"])

        def enc_map(out, val, _child=child):
            entries = dict(val)
            if entries:
                _append_varint(out, len(entries))
                for k, v in entries.items():
                    kb = str(k).encode("utf-8")
                    _append_varint(out, len(kb))
                    out += kb
                    _child(out, v)
            out.append(0)

        return enc_map
    if t == "null":
        return lambda out, val: None
    if t == "boolean":
        return lambda out, val: out.append(1 if val else 0)
    if t in ("int", "long"):
        return lambda out, val: _append_varint(out, int(val))
    if t in ("float", "double"):
        # the format string, not a struct.Struct: compiled codecs ship
        # to Python workers, and cloudpickle cannot pickle a Struct
        fmt = "<f" if t == "float" else "<d"

        def enc_fp(out, val, _fmt=fmt):
            out += struct.pack(_fmt, float(val))

        return enc_fp
    if t in ("bytes", "string"):

        def enc_bytes(out, val):
            body = val.encode("utf-8") if isinstance(val, str) else bytes(val)
            _append_varint(out, len(body))
            out += body

        return enc_bytes
    raise ValueError(f"unsupported avro type {sch!r}")


def compile_record_encoder(schema: dict):
    """One-time-compiled ``dict -> bytes`` record encoder."""
    fields = [(f["name"], _compile_enc(f["type"])) for f in schema["fields"]]

    def encode(record: dict) -> bytes:
        out = bytearray()
        for name, enc in fields:
            enc(out, record.get(name))
        return bytes(out)

    return encode


_ENCODER_CACHE: dict[str, Any] = {}


def _cached_encoder(schema: dict):
    key = json.dumps(schema, sort_keys=True)
    enc = _ENCODER_CACHE.get(key)
    if enc is None:
        enc = _ENCODER_CACHE[key] = compile_record_encoder(schema)
    return enc


def encode_record(schema: dict, record: dict) -> bytes:
    """Encode one record (compiled-encoder cache behind the scenes;
    :func:`compile_record_encoder` is the hot-loop API)."""
    return _cached_encoder(schema)(record)


# --------------------------------------------------------------- decode


def _fit_decimal(unscaled: int, scale: int, p: int, s: int):
    """Rescale an Avro-decoded unscaled int into Spark's decimal(p, s).

    A value legal under the source schema (e.g. the reference's
    precision-64 decimals) but not exactly representable in the capped
    column type becomes NULL here — the documented overflow contract.
    Doing it lazily "at the Arrow boundary" is NOT an option: pyarrow
    raises ArrowInvalid for out-of-range decimal128 values, which
    would crash the ``mapInArrow`` task and break never-throw serde
    parity (serdes/VavrSafeDeserializer.java:29-39).
    """
    if s < scale:  # capped scale: only exact rescales survive
        q, r = divmod(unscaled, 10 ** (scale - s))
        if r:
            return None
        unscaled = q
    if abs(unscaled) >= 10**p:
        return None
    return decimal.Decimal(unscaled).scaleb(-s)


def _read_long_at(data: bytes, pos: int) -> tuple[int, int]:
    """Positional varint read — the hot-loop twin of :func:`read_long`."""
    shift = acc = 0
    n = len(data)
    while True:
        if pos >= n:
            raise AvroDecodeError("truncated varint")
        b = data[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            if acc >> 64:
                raise AvroDecodeError("varint overflows 64 bits")
            return (acc >> 1) ^ -(acc & 1), pos
        shift += 7
        if shift > 63:  # Avro longs are ≤ 10 bytes; see read_long
            raise AvroDecodeError("varint too long")


def _compile(sch: Any):
    """Compile an Avro (sub)schema to ``fn(data, pos) -> (value, pos)``.

    Schema dispatch (dict walking, string compares, logical-type
    checks) happens ONCE here instead of per record per field; the
    returned closures parse positionally over the payload bytes with
    no BytesIO allocation. This is the per-record path behind the
    jar-less Avro serde — ~5× over the naive walker on the q73
    record shape, which matters when the serde is the hot loop of a
    100 TB Kafka backfill.
    """
    if isinstance(sch, list):  # union: branch index then value
        branches = [_compile(b) for b in sch]
        nb = len(branches)

        def dec_union(data, pos, _branches=branches, _nb=nb):
            idx, pos = _read_long_at(data, pos)
            if not 0 <= idx < _nb:
                raise AvroDecodeError(f"union branch {idx} out of range")
            return _branches[idx](data, pos)

        return dec_union
    if _is_decimal(sch):
        scale = int(sch.get("scale", 0))
        p, s = _capped_decimal(sch)

        def dec_decimal(data, pos, _scale=scale, _p=p, _s=s):
            n, pos = _read_long_at(data, pos)
            if n < 0:
                raise AvroDecodeError("negative bytes length")
            end = pos + n
            if end > len(data):
                raise AvroDecodeError("truncated decimal bytes")
            unscaled = int.from_bytes(data[pos:end], "big", signed=True)
            return _fit_decimal(unscaled, _scale, _p, _s), end

        return dec_decimal
    t = _type_name(sch)
    if t == "array" or t == "map":
        is_map = t == "map"
        child = _compile(sch["values"] if is_map else sch["items"])
        # cap guards a malicious count varint from pre-allocating/looping
        # past the payload: each element consumes ≥1 byte, so count can
        # never legitimately exceed the remaining bytes
        def dec_blocks(data, pos, _child=child, _is_map=is_map):
            out = {} if _is_map else []
            while True:
                count, pos = _read_long_at(data, pos)
                if count == 0:
                    return out, pos
                if count < 0:  # negative form: |count| items, size prefix
                    count = -count
                    _, pos = _read_long_at(data, pos)
                if count > len(data) - pos + 1:
                    raise AvroDecodeError("array/map count exceeds payload")
                for _ in range(count):
                    if _is_map:
                        klen, pos = _read_long_at(data, pos)
                        if klen < 0 or pos + klen > len(data):
                            raise AvroDecodeError("bad map key length")
                        try:
                            key = data[pos : pos + klen].decode("utf-8")
                        except UnicodeDecodeError as exc:
                            raise AvroDecodeError("invalid utf-8 map key") from exc
                        pos += klen
                        out[key], pos = _child(data, pos)
                    else:
                        v, pos = _child(data, pos)
                        out.append(v)

        return dec_blocks
    if t == "null":
        return lambda data, pos: (None, pos)
    if t == "boolean":

        def dec_bool(data, pos):
            if pos >= len(data):
                raise AvroDecodeError("truncated boolean")
            return data[pos] != 0, pos + 1

        return dec_bool
    if t == "int":

        def dec_int(data, pos):
            v, pos = _read_long_at(data, pos)
            # Avro ints are 32-bit by spec; a varint outside that range
            # is a malformed payload. Reject inside try-decode — letting
            # it through would crash later at the Arrow/IntegerType
            # boundary instead of landing in ``err``.
            if not _INT32_MIN <= v <= _INT32_MAX:
                raise AvroDecodeError("int out of 32-bit range")
            return v, pos

        return dec_int
    if t == "long":
        return _read_long_at
    if t in ("float", "double"):
        width = 4 if t == "float" else 8
        fmt = "<f" if t == "float" else "<d"  # picklable, unlike a Struct

        def dec_fp(data, pos, _w=width, _fmt=fmt, _t=t):
            if pos + _w > len(data):
                raise AvroDecodeError(f"truncated {_t}")
            return struct.unpack_from(_fmt, data, pos)[0], pos + _w

        return dec_fp
    if t in ("bytes", "string"):
        is_str = t == "string"

        def dec_bytes(data, pos, _is_str=is_str):
            n, pos = _read_long_at(data, pos)
            if n < 0:
                raise AvroDecodeError("negative length")
            end = pos + n
            if end > len(data):
                raise AvroDecodeError("truncated bytes/string")
            body = data[pos:end]
            if not _is_str:
                return body, end
            try:
                return body.decode("utf-8"), end
            except UnicodeDecodeError as exc:
                # Avro strings are UTF-8 by spec; anything else is a
                # malformed payload, not a task-crashing surprise
                raise AvroDecodeError(f"invalid utf-8 in string: {exc}") from exc

        return dec_bytes
    raise ValueError(f"unsupported avro type {sch!r}")


def compile_record_decoder(schema: dict):
    """One-time-compiled ``payload -> dict`` record decoder."""
    fields = [(f["name"], _compile(f["type"])) for f in schema["fields"]]

    def decode(payload: bytes) -> dict:
        pos, out = 0, {}
        for name, dec in fields:
            out[name], pos = dec(payload, pos)
        if pos != len(payload):
            raise AvroDecodeError("trailing bytes after record")
        return out

    return decode


_DECODER_CACHE: dict[str, Any] = {}


def decode_record(schema: dict, payload: bytes) -> dict:
    key = json.dumps(schema, sort_keys=True)
    dec = _DECODER_CACHE.get(key)
    if dec is None:
        dec = _DECODER_CACHE[key] = compile_record_decoder(schema)
    return dec(bytes(payload))


# --------------------------------------------------------------- object container files

OCF_MAGIC = b"Obj\x01"
_DEFAULT_SYNC = bytes(range(16))  # deterministic test-friendly marker


def compile_block_decoder(schema: dict):
    """Compiled ``(block_bytes, count) -> list[dict]`` decoder for an
    OCF data block: ``count`` records back to back, no per-record
    framing. Shares the per-field closures with
    :func:`compile_record_decoder`."""
    fields = [(f["name"], _compile(f["type"])) for f in schema["fields"]]

    def decode(payload: bytes, count: int) -> list[dict]:
        pos, out = 0, []
        for _ in range(count):
            rec = {}
            for name, dec in fields:
                rec[name], pos = dec(payload, pos)
            out.append(rec)
        if pos != len(payload):
            raise AvroDecodeError("trailing bytes after block records")
        return out

    return decode


def write_ocf(
    schema: dict,
    records: list[dict],
    codec: str = "deflate",
    block_size: int = 1000,
) -> bytes:
    """Serialize records into Avro Object Container File bytes
    (spec: header = magic + metadata map {avro.schema, avro.codec} +
    sync marker; then blocks of (count, byte-size, data, sync)).
    ``deflate`` is raw zlib (RFC 1951, no zlib header) per the spec.
    Used as the local writer for test fixtures; the distributed READ
    side is :func:`maston_spark.sources.avro_file_source`.
    """
    import zlib

    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported OCF codec {codec!r}")
    out = io.BytesIO()
    out.write(OCF_MAGIC)
    meta = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": codec.encode(),
    }
    write_long(out, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        write_long(out, len(kb))
        out.write(kb)
        write_long(out, len(v))
        out.write(v)
    write_long(out, 0)  # end of metadata map
    out.write(_DEFAULT_SYNC)
    for i in range(0, len(records), block_size):
        chunk = records[i : i + block_size]
        body = b"".join(encode_record(schema, r) for r in chunk)
        if codec == "deflate":
            co = zlib.compressobj(wbits=-15)  # raw deflate per spec
            body = co.compress(body) + co.flush()
        write_long(out, len(chunk))
        write_long(out, len(body))
        out.write(body)
        out.write(_DEFAULT_SYNC)
    return out.getvalue()


def read_ocf(data: bytes) -> tuple[dict, list[dict]]:
    """Parse Object Container File bytes -> (schema, records).

    Strict by design: a malformed container raises
    :class:`AvroDecodeError` (file corruption is a different failure
    domain from per-record serde, where never-throw applies)."""
    import zlib

    buf = io.BytesIO(data)
    if buf.read(4) != OCF_MAGIC:
        raise AvroDecodeError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = read_long(buf)
        if n == 0:
            break
        if n < 0:  # negative block count form: size prefix follows
            n = -n
            read_long(buf)
        for _ in range(n):
            # validate lengths before read(): a corrupt negative varint
            # would make read(-1) slurp the rest of the file and fail
            # far from the corruption point
            klen = read_long(buf)
            if klen < 0:
                raise AvroDecodeError("truncated OCF header")
            kraw = buf.read(klen)
            if len(kraw) != klen:
                raise AvroDecodeError("truncated OCF header")
            key = kraw.decode("utf-8")
            vlen = read_long(buf)
            if vlen < 0:
                raise AvroDecodeError("truncated OCF header")
            vraw = buf.read(vlen)
            if len(vraw) != vlen:
                raise AvroDecodeError("truncated OCF header")
            meta[key] = vraw
    sync = buf.read(16)
    if len(sync) != 16:
        raise AvroDecodeError("truncated OCF header")
    try:
        schema = json.loads(meta["avro.schema"])
    except (KeyError, ValueError) as exc:
        raise AvroDecodeError(f"bad avro.schema metadata: {exc}") from exc
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise AvroDecodeError(f"unsupported OCF codec {codec!r}")
    block_decode = compile_block_decoder(schema)
    records: list[dict] = []
    while True:
        head = buf.read(1)
        if not head:
            break  # clean EOF at a block boundary
        buf.seek(-1, 1)
        count = read_long(buf)
        size = read_long(buf)
        if count < 0 or size < 0:
            raise AvroDecodeError("negative OCF block count/size")
        body = buf.read(size)
        if len(body) != size:
            raise AvroDecodeError("truncated OCF block")
        if codec == "deflate":
            try:
                body = zlib.decompress(body, wbits=-15)
            except zlib.error as exc:
                raise AvroDecodeError(f"bad deflate block: {exc}") from exc
        records.extend(block_decode(body, count))
        if buf.read(16) != sync:
            raise AvroDecodeError("OCF sync marker mismatch")
    return schema, records


# --------------------------------------------------------------- schema resolution

# Avro-spec type promotions (writer -> reader), Avro 1.x spec
# "Schema Resolution": int→long/float/double, long→float/double,
# float→double, string↔bytes.
_PROMOTIONS = {
    ("int", "long"),
    ("int", "float"),
    ("int", "double"),
    ("long", "float"),
    ("long", "double"),
    ("float", "double"),
    ("string", "bytes"),
    ("bytes", "string"),
}


def _nullable_parts(sch: Any) -> tuple[bool, Any]:
    """(is_nullable, non-null branch) for ``["null", X]`` unions."""
    if isinstance(sch, list):
        branches = [b for b in sch if b != "null"]
        if len(branches) != 1:
            raise ValueError(f"unsupported union {sch!r}")
        return ("null" in sch), branches[0]
    return False, sch


def _base_name(sch: Any) -> Any:
    if _is_decimal(sch):
        return ("decimal", int(sch.get("precision", 0)), int(sch.get("scale", 0)))
    return _type_name(sch)


def resolution_spec(writer: dict, reader: dict) -> list[tuple]:
    """Compile the Avro schema-resolution plan reader←writer.

    Returns one entry per READER field, in reader order:

    - ``("copy", writer_field_name, promote)`` — value decoded with
      the writer schema carries over; ``promote`` is ``None`` or the
      ``(writer_base, reader_base)`` promotion pair to apply.
    - ``("default", value)`` — field absent from the writer; fill
      with the reader default (``None`` allowed for nullable fields).

    Writer-only fields are implicitly skipped (the decoder must still
    read them to advance, but they don't appear in the output).

    Parity: Avro 1.x spec "Schema Resolution" — fields matched by
    name, writer→reader promotions, reader defaults for missing
    fields. This mirrors what the reference's Confluent
    ``SpecificAvroDeserializer`` does per record when the topic holds
    multiple schema versions (the registry resolves the *writer*
    schema by the frame's schema id —
    properties/KafkaPropertiesBuilder.java:43-55).

    Raises ``ValueError`` for unresolvable pairs (config error —
    surfaces driver-side at compile time, never in tasks).
    """
    by_name = {f["name"]: f for f in writer["fields"]}
    spec: list[tuple] = []
    for rf in reader["fields"]:
        name = rf["name"]
        wf = by_name.get(name)
        if wf is None:
            if "default" in rf:
                spec.append(("default", rf["default"]))
                continue
            r_nullable, _ = _nullable_parts(rf["type"])
            if r_nullable:
                spec.append(("default", None))
                continue
            raise ValueError(
                f"reader field {name!r} missing from writer and has no default"
            )
        w_nullable, w_base = _nullable_parts(wf["type"])
        r_nullable, r_base = _nullable_parts(rf["type"])
        if w_nullable and not r_nullable:
            raise ValueError(
                f"field {name!r}: writer nullable but reader non-nullable"
            )
        wb, rb = _base_name(w_base), _base_name(r_base)
        if wb == rb:
            spec.append(("copy", name, None))
        elif (wb, rb) in _PROMOTIONS:
            spec.append(("copy", name, (wb, rb)))
        else:
            raise ValueError(
                f"field {name!r}: cannot resolve writer {wb!r} to reader {rb!r}"
            )
    return spec


def _promote_py(value: Any, promote: tuple | None) -> Any:
    if value is None or promote is None:
        return value
    _, rb = promote
    if rb in ("long", "int"):
        return int(value)
    if rb in ("float", "double"):
        return float(value)
    if rb == "string":
        return bytes(value).decode("utf-8")
    if rb == "bytes":
        return value.encode("utf-8") if isinstance(value, str) else bytes(value)
    return value


def resolve_records(writer: dict, reader: dict, records: list[dict]) -> list[dict]:
    """Project already-decoded WRITER-shaped record dicts to the
    READER shape per :func:`resolution_spec` — the OCF-read twin of
    :func:`compile_resolving_record_decoder` (there the bytes still
    need decoding; here :func:`read_ocf` already yielded dicts)."""
    spec = resolution_spec(writer, reader)
    names = [f["name"] for f in reader["fields"]]
    return [
        {
            name: (entry[1] if entry[0] == "default" else _promote_py(rec[entry[1]], entry[2]))
            for name, entry in zip(names, spec)
        }
        for rec in records
    ]


def compile_resolving_record_decoder(writer: dict, reader: dict):
    """Per-record ``payload -> reader-shaped dict`` decoder: decode
    with the WRITER schema (positions/branches follow the bytes that
    were actually written), then project to the reader shape per
    :func:`resolution_spec`."""
    decode = compile_record_decoder(writer)
    spec = resolution_spec(writer, reader)
    names = [f["name"] for f in reader["fields"]]

    def decode_resolved(payload: bytes) -> dict:
        rec = decode(payload)
        out = {}
        for name, entry in zip(names, spec):
            if entry[0] == "default":
                out[name] = entry[1]
            else:
                out[name] = _promote_py(rec[entry[1]], entry[2])
        return out

    return decode_resolved


# --------------------------------------------------------------- confluent framing


def confluent_wrap(schema_id: int, body: bytes) -> bytes:
    return MAGIC + struct.pack(">I", schema_id) + body


def confluent_unwrap(payload: bytes) -> tuple[int, bytes]:
    if len(payload) < 5 or payload[:1] != MAGIC:
        raise AvroDecodeError("not a Confluent-framed payload")
    return struct.unpack(">I", payload[1:5])[0], payload[5:]
