"""Avro codec + safe deserializer tests.

Golden parity targets: the reference round-trips
src/test/resources/dummy-avro-record.avsc (mandatory string,
nullable string, nullable bytes-decimal) through
VavrSafeDeserializer/VavrSafeSerializer; corrupt payloads become
errors-as-data, never exceptions
(serdes/VavrSafeDeserializer.java:29-39). Decimal decode parity:
mapper/AvroByteBufferToBigDecimalMapper.java:13-26 (two's-complement
big-endian unscaled int, union-wrapped).
"""

from __future__ import annotations

import decimal
import io

import pytest

from maston_spark import avro_codec as AC

DUMMY_SCHEMA = {
    # same shape as dummy-avro-record.avsc
    "name": "DummyAvroTest",
    "type": "record",
    "fields": [
        {"name": "mandatoryStringValue", "type": "string"},
        {"name": "mandatoryBusinessStringKey", "type": ["null", "string"], "default": None},
        {"name": "nullableStringValue", "type": ["null", "string"], "default": None},
        {
            "name": "nullableDummyBigDecimal",
            "type": [
                "null",
                {"logicalType": "decimal", "precision": 64, "scale": 0, "type": "bytes"},
            ],
            "default": None,
        },
    ],
}


def test_zigzag_varint_roundtrip_edges():
    for n in [0, -1, 1, -2, 63, 64, -64, -65, 2**31 - 1, -(2**31), 2**62, -(2**62)]:
        out = io.BytesIO()
        AC.write_long(out, n)
        assert AC.read_long(io.BytesIO(out.getvalue())) == n


def test_record_roundtrip_all_fields():
    rec = {
        "mandatoryStringValue": "test-1",
        "mandatoryBusinessStringKey": "bk-1",
        "nullableStringValue": None,
        "nullableDummyBigDecimal": decimal.Decimal("12345678901234567890"),
    }
    body = AC.encode_record(DUMMY_SCHEMA, rec)
    assert AC.decode_record(DUMMY_SCHEMA, body) == rec


def test_decimal_negative_and_scale():
    sch = {
        "name": "D",
        "type": "record",
        "fields": [
            {
                "name": "amount",
                "type": {"type": "bytes", "logicalType": "decimal", "precision": 12, "scale": 2},
            }
        ],
    }
    for v in ["-1234.56", "0.01", "-0.01", "0.00", "99999999.99"]:
        body = AC.encode_record(sch, {"amount": decimal.Decimal(v)})
        got = AC.decode_record(sch, body)["amount"]
        assert got == decimal.Decimal(v)
        # scale is preserved exactly (str equality, not just numeric)
        assert str(got) == v


def test_confluent_framing():
    framed = AC.confluent_wrap(42, b"body")
    assert framed[:1] == b"\x00" and len(framed) == 9
    sid, body = AC.confluent_unwrap(framed)
    assert sid == 42 and body == b"body"
    with pytest.raises(AC.AvroDecodeError):
        AC.confluent_unwrap(b"\x01xxxxbody")  # wrong magic
    with pytest.raises(AC.AvroDecodeError):
        AC.confluent_unwrap(b"\x00ab")  # shorter than the header


def test_decode_rejects_truncation_and_trailing_bytes():
    body = AC.encode_record(DUMMY_SCHEMA, {"mandatoryStringValue": "abc"})
    with pytest.raises(AC.AvroDecodeError):
        AC.decode_record(DUMMY_SCHEMA, body[:2])
    with pytest.raises(AC.AvroDecodeError):
        AC.decode_record(DUMMY_SCHEMA, body + b"\x00junk")


def test_union_branch_out_of_range():
    sch = {"name": "U", "type": "record",
           "fields": [{"name": "x", "type": ["null", "string"]}]}
    out = io.BytesIO()
    AC.write_long(out, 7)  # invalid branch index
    with pytest.raises(AC.AvroDecodeError):
        AC.decode_record(sch, out.getvalue())


def test_spark_type_mapping():
    from pyspark.sql.types import DecimalType, LongType, StringType

    st = AC.record_struct_type(DUMMY_SCHEMA)
    assert isinstance(st["mandatoryStringValue"].dataType, StringType)
    # avro precision 64 caps at Spark's DecimalType maximum of 38
    assert st["nullableDummyBigDecimal"].dataType == DecimalType(38, 0)
    assert AC.spark_type_for("long") == LongType()
    with pytest.raises(ValueError):
        AC.spark_type_for(["string", "long"])  # non-null union unsupported


def test_decimal_wider_than_spark_cap_nulls_not_crashes():
    """A validly-encoded decimal wider than Spark's 38-digit cap is
    legal under the reference's precision-64 schema
    (dummy-avro-record.avsc:27-38) but unrepresentable in
    decimal128 — pyarrow raises ArrowInvalid for such values, so the
    decoder must null them BEFORE the Arrow boundary to keep the
    never-throw contract (VavrSafeDeserializer.java:29-39)."""
    sch = {
        "name": "D", "type": "record",
        "fields": [{"name": "amount", "type": {
            "logicalType": "decimal", "precision": 64, "scale": 0, "type": "bytes"}}],
    }
    wide = decimal.Decimal(10) ** 40  # 41 digits > 38
    body = AC.encode_record(sch, {"amount": wide})
    assert AC.decode_record(sch, body)["amount"] is None
    # boundary: exactly 38 digits survives
    edge = decimal.Decimal(10) ** 37  # 38 digits
    body = AC.encode_record(sch, {"amount": edge})
    assert AC.decode_record(sch, body)["amount"] == edge
    neg = -(decimal.Decimal(10) ** 40)
    body = AC.encode_record(sch, {"amount": neg})
    assert AC.decode_record(sch, body)["amount"] is None


def test_decimal_scale_clamped_to_precision():
    """Avro allows scale > Spark's 38 cap (e.g. precision 64 scale 40);
    the column type clamps to decimal(38, 38) and only values exact at
    the clamped scale survive decode."""
    from pyspark.sql.types import DecimalType

    sch = {
        "name": "D", "type": "record",
        "fields": [{"name": "amount", "type": {
            "logicalType": "decimal", "precision": 64, "scale": 40, "type": "bytes"}}],
    }
    assert AC.record_struct_type(sch)["amount"].dataType == DecimalType(38, 38)
    # unscaled 1 at scale 40 = 1E-40: not exact at scale 38 -> NULL
    body = AC.encode_record(sch, {"amount": decimal.Decimal("1E-40")})
    assert AC.decode_record(sch, body)["amount"] is None
    # unscaled 100 at scale 40 = 1E-38: exact at scale 38 -> survives
    body = AC.encode_record(sch, {"amount": decimal.Decimal("1E-38")})
    assert AC.decode_record(sch, body)["amount"] == decimal.Decimal("1E-38")


def test_oversized_varint_rejected_inside_try_decode():
    """11-byte varints (and 10-byte ones overflowing 64 bits) must
    raise AvroDecodeError during decode, not leak an out-of-int64
    integer to the Arrow/LongType boundary."""
    sch = {"name": "L", "type": "record",
           "fields": [{"name": "x", "type": "long"}]}
    eleven = b"\x80" * 10 + b"\x01"  # 11 bytes
    with pytest.raises(AC.AvroDecodeError):
        AC.decode_record(sch, eleven)
    overflow = b"\x80" * 9 + b"\x7f"  # 10 bytes but bits past 2^64
    with pytest.raises(AC.AvroDecodeError):
        AC.decode_record(sch, overflow)
    # io-based reader (public API) rejects the same inputs
    with pytest.raises(AC.AvroDecodeError):
        AC.read_long(io.BytesIO(eleven))
    # legitimate 10-byte extremes still decode
    for n in (2**63 - 1, -(2**63)):
        out = io.BytesIO()
        AC.write_long(out, n)
        assert AC.read_long(io.BytesIO(out.getvalue())) == n


def test_compiled_decoder_matches_reference_walker():
    """compile_record_decoder is the per-record path of the jar-less
    serde; its output must byte-for-byte match decode_record on the
    dummy shape."""
    dec = AC.compile_record_decoder(DUMMY_SCHEMA)
    recs = [
        {"mandatoryStringValue": "a", "mandatoryBusinessStringKey": None,
         "nullableStringValue": None, "nullableDummyBigDecimal": None},
        {"mandatoryStringValue": "b", "mandatoryBusinessStringKey": "k",
         "nullableStringValue": "v",
         "nullableDummyBigDecimal": decimal.Decimal(-12345)},
    ]
    for rec in recs:
        body = AC.encode_record(DUMMY_SCHEMA, rec)
        assert dec(body) == AC.decode_record(DUMMY_SCHEMA, body) == rec
    with pytest.raises(AC.AvroDecodeError):
        dec(AC.encode_record(DUMMY_SCHEMA, recs[0]) + b"\x00")


# ---------------------------------------------------------- property tests

from hypothesis import given, settings, strategies as st  # noqa: E402

RICH_SCHEMA = {
    "name": "PropRecord",
    "type": "record",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "os", "type": ["null", "string"], "default": None},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": "double"},
        {"name": "by", "type": "bytes"},
        {
            "name": "dec",
            "type": [
                "null",
                {"logicalType": "decimal", "precision": 12, "scale": 2, "type": "bytes"},
            ],
            "default": None,
        },
    ],
}

_records = st.fixed_dictionaries(
    {
        "s": st.text(max_size=50),
        "os": st.none() | st.text(max_size=20),
        "i": st.integers(-(2**31), 2**31 - 1),
        "l": st.integers(-(2**63), 2**63 - 1),
        "b": st.booleans(),
        "d": st.floats(allow_nan=False),
        "by": st.binary(max_size=40),
        "dec": st.none()
        | st.integers(-(10**12) + 1, 10**12 - 1).map(
            lambda u: decimal.Decimal(u).scaleb(-2)
        ),
    }
)


@settings(max_examples=200, deadline=None)
@given(_records)
def test_prop_record_roundtrip(rec):
    """encode → decode is the identity for every value in the domain
    of the schema (unicode strings, int/long extremes, ±inf doubles,
    signed decimals at the precision boundary)."""
    out = AC.decode_record(RICH_SCHEMA, AC.encode_record(RICH_SCHEMA, rec))
    assert out == rec


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=200))
def test_prop_decode_arbitrary_bytes_never_raises_foreign(data):
    """The never-throw serde contract rests on the decoder raising
    ONLY AvroDecodeError for malformed input — any other exception
    type would escape safe_from_avro's except clause and crash the
    task (parity: VavrSafeDeserializer.java:29-39 catches-all into
    the invalid branch)."""
    try:
        AC.decode_record(DUMMY_SCHEMA, data)
    except AC.AvroDecodeError:
        pass


@settings(max_examples=200, deadline=None)
@given(st.integers(-(2**63), 2**63 - 1))
def test_prop_varint_roundtrip_any_int64(n):
    out = io.BytesIO()
    AC.write_long(out, n)
    assert AC.read_long(io.BytesIO(out.getvalue())) == n


@settings(max_examples=100, deadline=None)
@given(st.integers(0, 2**31 - 1), st.binary(max_size=60))
def test_prop_confluent_framing_roundtrip(schema_id, body):
    sid, out = AC.confluent_unwrap(AC.confluent_wrap(schema_id, body))
    assert (sid, out) == (schema_id, body)


ARRAY_MAP_SCHEMA = {
    "name": "Nested",
    "type": "record",
    "fields": [
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "scores", "type": {"type": "map", "values": "long"}},
        {
            "name": "maybe_list",
            "type": ["null", {"type": "array", "items": ["null", "long"]}],
            "default": None,
        },
    ],
}


def test_array_map_roundtrip():
    rec = {
        "tags": ["a", "üñï", "", "d"],
        "scores": {"x": 1, "y": -(2**62), "": 0},
        "maybe_list": [1, None, 3],
    }
    body = AC.encode_record(ARRAY_MAP_SCHEMA, rec)
    assert AC.decode_record(ARRAY_MAP_SCHEMA, body) == rec
    empty = {"tags": [], "scores": {}, "maybe_list": None}
    assert AC.decode_record(
        ARRAY_MAP_SCHEMA, AC.encode_record(ARRAY_MAP_SCHEMA, empty)
    ) == empty


def test_array_map_spark_types():
    from pyspark.sql.types import ArrayType, LongType, MapType, StringType

    st = AC.record_struct_type(ARRAY_MAP_SCHEMA)
    assert st["tags"].dataType == ArrayType(StringType())
    assert st["scores"].dataType == MapType(StringType(), LongType())
    assert st["maybe_list"].dataType == ArrayType(LongType())


def test_array_count_bomb_rejected():
    """A count varint claiming more elements than the payload has
    bytes must raise (inside try-decode), not loop/allocate."""
    import io as _io

    out = _io.BytesIO()
    AC.write_long(out, 2**40)  # absurd block count for `tags`
    with pytest.raises(AC.AvroDecodeError):
        AC.decode_record(ARRAY_MAP_SCHEMA, out.getvalue())


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.text(max_size=15), max_size=8),
    st.dictionaries(st.text(max_size=8), st.integers(-(2**63), 2**63 - 1), max_size=6),
    st.none() | st.lists(st.none() | st.integers(-(2**31), 2**31), max_size=6),
)
def test_prop_array_map_roundtrip(tags, scores, maybe):
    rec = {"tags": tags, "scores": scores, "maybe_list": maybe}
    assert AC.decode_record(
        ARRAY_MAP_SCHEMA, AC.encode_record(ARRAY_MAP_SCHEMA, rec)
    ) == rec
