"""Vectorized Avro batch decoder tests.

The vectorized engine (:mod:`maston_spark.avro_vec`) must be
value-identical to the compiled per-record codec on every input —
same decoded records, same rows classified as errors — because both
implement the never-throw serde contract of
serdes/VavrSafeDeserializer.java:29-39. These tests cross-check the
two engines on adversarial payload mixes and pin the DataFrame-level
behavior of ``safe_from_avro_arrow``.
"""

from __future__ import annotations

import decimal
import io
import random

import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from maston_spark import avro_codec as AC
from maston_spark import avro_vec as AV

RICH = {
    "name": "PropRecord",
    "type": "record",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "os", "type": ["null", "string"], "default": None},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "b", "type": "boolean"},
        {"name": "d", "type": "double"},
        {"name": "f", "type": "float"},
        {"name": "by", "type": "bytes"},
        {
            "name": "dec",
            "type": [
                "null",
                {"logicalType": "decimal", "precision": 64, "scale": 0, "type": "bytes"},
            ],
            "default": None,
        },
        {
            "name": "dec2",
            "type": [
                "null",
                {"logicalType": "decimal", "precision": 64, "scale": 40, "type": "bytes"},
            ],
            "default": None,
        },
    ],
}


def _rand_rec(rng, k):
    s_choices = ["", "ascii", "üñïçødé ✓", "a" * 300, "\x00\x01", "日本語テキスト"]
    return {
        "s": rng.choice(s_choices),
        "os": None if k % 3 == 0 else rng.choice(s_choices),
        "i": rng.choice([0, 1, -1, 2**31 - 1, -(2**31), rng.randint(-(10**6), 10**6)]),
        "l": rng.choice([0, -1, 2**63 - 1, -(2**63), rng.randint(-(10**12), 10**12)]),
        "b": bool(k % 2),
        "d": rng.choice([0.0, -0.0, 1.5, float("inf"), float("-inf"), 1e308, 5e-324]),
        "f": rng.choice([0.0, 1.25, -3.5, 65504.0]),
        "by": bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 50))),
        # 10**30+ force the >8-byte-body per-record fallback; 10**40
        # exceeds the 38-digit cap and must null
        "dec": None
        if k % 4 == 0
        else decimal.Decimal(
            rng.choice([0, 1, -1, 10**18, -(10**18), 10**30, -(10**30), 10**37, 10**40])
        ),
        # scale 40 > cap 38: only unscaled multiples of 100 survive
        "dec2": None
        if k % 5 == 0
        else decimal.Decimal(rng.choice([0, 1, 100, 10**20])).scaleb(-40),
    }


def _invalid_utf8_payload() -> bytes:
    """A framing-valid record whose mandatory string is not UTF-8."""
    out = io.BytesIO()
    AC.write_long(out, 3)
    out.write(b"\xff\xfe\xfd")  # s: 3 bytes, invalid UTF-8
    AC.write_long(out, 0)  # os -> null branch
    AC.write_long(out, 0)  # i
    AC.write_long(out, 0)  # l
    out.write(b"\x00")  # b
    out.write(b"\x00" * 8)  # d
    out.write(b"\x00" * 4)  # f
    AC.write_long(out, 0)  # by: empty
    AC.write_long(out, 0)  # dec -> null
    AC.write_long(out, 0)  # dec2 -> null
    return AC.confluent_wrap(1, out.getvalue())


def _cross_check(payloads):
    """Both engines must agree row-for-row on ok values and err rows."""
    arr = pa.array(payloads, type=pa.binary())
    res = AV.compile_batch_decoder(RICH)(arr, True)
    rd = AC.compile_record_decoder(RICH)
    for i, p in enumerate(payloads):
        got = res.ok[i].as_py()
        if p is None:
            assert got is None and i not in res.errors
            continue
        try:
            if len(p) < 5 or p[0]:
                raise AC.AvroDecodeError("not a Confluent-framed payload")
            want = rd(bytes(p[5:]))
        except Exception:
            want = None
        if want is None:
            assert got is None and i in res.errors, f"row {i}: engines disagree on err"
        else:
            assert i not in res.errors, f"row {i}: vectorized flagged a good record"
            assert got == want, f"row {i}: {got!r} != {want!r}"


def test_vectorized_matches_per_record_on_adversarial_mix():
    rng = random.Random(11)
    payloads = []
    for k in range(1500):
        r = rng.random()
        if r < 0.05:
            payloads.append(None)  # tombstone
        elif r < 0.15:
            payloads.append(bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 30))))
        else:
            framed = AC.confluent_wrap(1, AC.encode_record(RICH, _rand_rec(rng, k)))
            if r < 0.20:
                framed = framed[: rng.randint(0, len(framed))]  # truncate anywhere
            elif r < 0.22:
                framed = framed + b"\x00trail"
            payloads.append(framed)
    payloads.append(_invalid_utf8_payload())
    _cross_check(payloads)


def test_vectorized_all_corrupt_and_all_null_batches():
    _cross_check([None] * 8)
    _cross_check([b"", b"\x00", b"\x01234567", b"\x00\x00\x00\x00\x2a\xff"] * 4)


def test_vectorized_wide_decimal_falls_back_to_exact_value():
    """9+-byte decimal bodies (legal under precision 64) take the
    per-record path and still decode to the exact value."""
    wide = decimal.Decimal(10**30)
    rec = {
        "s": "x", "os": None, "i": 1, "l": 2, "b": True, "d": 0.5, "f": 0.25,
        "by": b"", "dec": wide, "dec2": None,
    }
    payload = AC.confluent_wrap(1, AC.encode_record(RICH, rec))
    res = AV.compile_batch_decoder(RICH)(pa.array([payload], type=pa.binary()), True)
    assert not res.errors
    assert res.ok[0].as_py()["dec"] == wide


def test_compile_batch_decoder_rejects_unsupported_schema():
    with pytest.raises(ValueError):
        AV.compile_batch_decoder(
            {"name": "A", "type": "record",
             "fields": [{"name": "xs", "type": {"type": "array", "items": "long"}}]}
        )


# ---------------------------------------------------------- property tests

from hypothesis import given, settings, strategies as st  # noqa: E402

_records = st.fixed_dictionaries(
    {
        "s": st.text(max_size=40),
        "os": st.none() | st.text(max_size=15),
        "i": st.integers(-(2**31), 2**31 - 1),
        "l": st.integers(-(2**63), 2**63 - 1),
        "b": st.booleans(),
        "d": st.floats(allow_nan=False),
        "f": st.just(0.0),
        "by": st.binary(max_size=30),
        "dec": st.none() | st.integers(-(10**40), 10**40).map(decimal.Decimal),
        "dec2": st.none()
        | st.integers(-(10**20), 10**20).map(lambda u: decimal.Decimal(u).scaleb(-40)),
    }
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_records, min_size=1, max_size=8))
def test_prop_engines_agree_on_valid_records(recs):
    """For every well-formed batch, the vectorized engine decodes the
    exact same values as the per-record codec (incl. >8-byte decimal
    fallback, 38-digit nulling, scale-40 clamping, unicode)."""
    payloads = [AC.confluent_wrap(1, AC.encode_record(RICH, r)) for r in recs]
    _cross_check(payloads)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.binary(max_size=60), min_size=1, max_size=8))
def test_prop_engines_agree_on_arbitrary_bytes(payloads):
    """Garbage in -> both engines flag the same rows as errors and
    never throw (never-throw serde parity across engines)."""
    _cross_check(payloads)


LONG_STR = {
    "name": "T", "type": "record",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "v", "type": ["null", "string"], "default": None},
    ],
}

# the shape of dummy-avro-record.avsc (tests/test_avro.py DUMMY_SCHEMA):
# nullable strings and a precision-64 bytes-decimal union
DUMMY = {
    "name": "DummyAvroTest", "type": "record",
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

ARRAY_MAP = {
    "name": "A", "type": "record",
    "fields": [
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
    ],
}

CONTRACT_CASES = [
    pytest.param(LONG_STR, {"k": 9, "v": "ok"}, id="long_string"),
    pytest.param(
        DUMMY,
        {
            "mandatoryStringValue": "ok-1",
            "mandatoryBusinessStringKey": None,
            "nullableStringValue": "n",
            "nullableDummyBigDecimal": decimal.Decimal("-12345678901234567890"),
        },
        id="decimal_unions",
    ),
    pytest.param(ARRAY_MAP, {"xs": [1, 2, 3], "m": {"a": "x", "b": "y"}}, id="array_map"),
]


@pytest.mark.parametrize("sch, rec", CONTRACT_CASES)
def test_safe_from_avro_arrow_dataframe_contract(spark, sch, rec):
    """DataFrame-level: good -> ok struct; corrupt -> err with raw
    bytes preserved; NULL (tombstone) -> both NULL
    (VavrSafeDeserializer.java:29-39), on the vectorized engine and on
    the per-record one (arrays/maps)."""
    from maston_spark.validated import safe_from_avro_arrow

    good = AC.confluent_wrap(7, AC.encode_record(sch, rec))
    corrupt = good[:6]
    df = spark.createDataFrame(
        [Row(id=1, value=good), Row(id=2, value=corrupt), Row(id=3, value=None)],
        "id int, value binary",
    )
    rows = {r.id: r for r in safe_from_avro_arrow(df, "value", sch).collect()}
    assert rows[1].ok.asDict(recursive=True) == rec and rows[1].err is None
    assert rows[2].ok is None
    assert rows[2].err.code == "FAILED_TO_DESERIALIZE_RECORD"
    assert rows[2].err.exception_class == "AvroDecodeError"
    assert bytes(rows[2].err.raw_bytes) == corrupt
    assert rows[3].ok is None and rows[3].err is None


@pytest.mark.parametrize("sch, rec", CONTRACT_CASES[::2])  # one per decode engine
def test_safe_from_avro_arrow_matches_evolving_single_id(spark, sch, rec):
    """``safe_from_avro_arrow`` is ``safe_from_avro_evolving`` with one
    writer: identical ok/err on good, truncated, bad-magic, short and
    NULL payloads."""
    from maston_spark.validated import safe_from_avro_arrow, safe_from_avro_evolving

    good = AC.confluent_wrap(42, AC.encode_record(sch, rec))
    df = spark.createDataFrame(
        [
            Row(id=1, value=good),
            Row(id=2, value=good[:-1]),
            Row(id=3, value=b"\x01" + good[1:]),
            Row(id=4, value=good[:4]),
            Row(id=5, value=None),
        ],
        "id int, value binary",
    )
    arrow = {r.id: r for r in safe_from_avro_arrow(df, "value", sch).collect()}
    evolving = {
        r.id: r for r in safe_from_avro_evolving(df, "value", sch, {42: sch}).collect()
    }
    assert arrow == evolving
    assert arrow[1].err is None and arrow[5].ok is None and arrow[5].err is None
    assert all(arrow[i].ok is None and arrow[i].err is not None for i in (2, 3, 4))
    assert {arrow[i].err.exception_message for i in (3, 4)} == {
        "not a Confluent-framed payload"
    }


def test_safe_serialize_avro_roundtrip_array_map(spark):
    """The produce side on a schema outside the vectorizable subset:
    each row encodes with the compiled per-record encoder inside the
    same ``mapInArrow`` body, and decodes back to the same record."""
    from maston_spark.validated import safe_from_avro_arrow, safe_serialize_avro

    with pytest.raises(ValueError):
        AV.compile_batch_encoder(ARRAY_MAP)
    err_ddl = (
        "struct<code:string,message:string,target_class:string,"
        "exception_class:string,exception_message:string,"
        "stacktrace:string,raw_bytes:binary,"
        "source_record:struct<xs:array<bigint>,m:map<string,string>>>"
    )
    recs = {"a": {"xs": [1, -2], "m": {"k": "v"}}, "b": {"xs": [], "m": {}}}
    df = spark.createDataFrame(
        [
            ("a", recs["a"], None),
            ("b", recs["b"], None),
            ("src", None, {"code": "X", "source_record": {"xs": [5], "m": {"z": "q"}}}),
            ("raw", None, {"code": "X", "raw_bytes": b"orig"}),
            ("null", None, None),
        ],
        f"k string, ok struct<xs:array<bigint>,m:map<string,string>>, err {err_ddl}",
    )
    framed = safe_serialize_avro(df, ARRAY_MAP, 7)
    out = {r.k: r.value_out for r in framed.collect()}
    for k, rec in recs.items():
        sid, body = AC.confluent_unwrap(bytes(out[k]))
        assert sid == 7 and AC.decode_record(ARRAY_MAP, body) == rec
    assert AC.decode_record(ARRAY_MAP, bytes(out["src"])[5:]) == {"xs": [5], "m": {"z": "q"}}
    assert bytes(out["raw"]) == b"orig" and out["null"] is None
    back = safe_from_avro_arrow(
        framed.select("k", F.col("value_out").alias("value")), "value", ARRAY_MAP
    )
    got = {r.k: r.ok.asDict(recursive=True) for r in back.filter("k in ('a', 'b')").collect()}
    assert got == recs


def test_safe_from_avro_arrow_unsupported_schema_falls_back(spark):
    """Schemas outside the VECTORIZABLE subset (arrays/maps) decode
    per record inside the same ``mapInArrow`` body — same ok/err
    output contract, values decoded by the full codec."""
    from maston_spark.validated import safe_from_avro_arrow

    sch = {
        "name": "A", "type": "record",
        "fields": [
            {"name": "xs", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    with pytest.raises(ValueError):
        AV.compile_batch_decoder(sch)  # not vectorizable...
    good = AC.confluent_wrap(
        1, AC.encode_record(sch, {"xs": [1, 2, 3], "m": {"a": "x", "b": "y"}})
    )
    df = spark.createDataFrame(
        [Row(id=1, value=good), Row(id=2, value=good[:6])], "id int, value binary"
    )
    rows = {r.id: r for r in safe_from_avro_arrow(df, "value", sch).collect()}
    # ...but the operator still works via the per-record fallback
    assert rows[1].ok.xs == [1, 2, 3] and rows[1].ok.m == {"a": "x", "b": "y"}
    assert rows[2].ok is None and rows[2].err.code == "FAILED_TO_DESERIALIZE_RECORD"


FLOATS = {
    "name": "F", "type": "record",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": ["null", "double"], "default": None},
    ],
}


def test_float_double_codecs_survive_cloudpickle():
    """Compiled codecs ship to Python workers by value; a captured
    ``struct.Struct`` method made any float/double schema unpicklable."""
    import cloudpickle

    recs = [{"k": 1, "f": 1.5, "d": 2.25}, {"k": -2, "f": -0.5, "d": None}]
    enc = cloudpickle.loads(cloudpickle.dumps(AC.compile_record_encoder(FLOATS)))
    dec = cloudpickle.loads(cloudpickle.dumps(AC.compile_record_decoder(FLOATS)))
    assert [dec(enc(r)) for r in recs] == recs
    benc = cloudpickle.loads(cloudpickle.dumps(AV.compile_batch_encoder(FLOATS)))
    bdec = cloudpickle.loads(cloudpickle.dumps(AV.compile_batch_decoder(FLOATS)))
    framed = benc(pa.array(recs, type=AV.arrow_struct_type(FLOATS)), b"\x00\x00\x00\x00\x07")
    res = bdec(framed, True)
    assert not res.errors and res.ok.to_pylist() == recs


def test_safe_from_avro_arrow_float_double_on_workers(spark):
    """``safe_from_avro_arrow`` on a float/double schema runs through a
    real Spark job (the decoder is pickled to the workers)."""
    from maston_spark.validated import safe_from_avro_arrow

    good = AC.confluent_wrap(7, AC.encode_record(FLOATS, {"k": 3, "f": 0.25, "d": -1e300}))
    df = spark.createDataFrame(
        [Row(id=1, value=good), Row(id=2, value=good[:9])], "id int, value binary"
    )
    rows = {r.id: r for r in safe_from_avro_arrow(df, "value", FLOATS).collect()}
    assert (rows[1].ok.k, rows[1].ok.f, rows[1].ok.d) == (3, 0.25, -1e300)
    assert rows[1].err is None
    assert rows[2].ok is None and rows[2].err.code == "FAILED_TO_DESERIALIZE_RECORD"


def test_batch_encoder_byte_parity_with_per_record():
    """The vectorized batch encoder must emit BYTE-IDENTICAL output
    to the compiled per-record encoder across the full type matrix:
    varint edges, NaN doubles, unicode/empty strings, binary, and
    decimal sign/length edges (incl. -1.28's sign-extended body)."""
    import decimal
    import random

    import pyarrow as pa

    from maston_spark import avro_codec as AC
    from maston_spark import avro_vec as AV

    schema = {
        "name": "R", "type": "record",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "small", "type": "int"},
            {"name": "flag", "type": "boolean"},
            {"name": "ratio", "type": "double"},
            {"name": "ratio32", "type": ["null", "float"], "default": None},
            {"name": "status", "type": ["null", "string"], "default": None},
            {"name": "blob", "type": ["null", "bytes"], "default": None},
            {"name": "amount", "type": ["null", {
                "type": "bytes", "logicalType": "decimal",
                "precision": 18, "scale": 2}], "default": None},
        ],
    }
    rng = random.Random(7)
    recs = []
    for i in range(2000):
        recs.append({
            "id": rng.randint(-2**62, 2**62),
            "small": rng.randint(-2**31, 2**31 - 1),
            "flag": bool(i % 3),
            "ratio": rng.random() * 1e6 - 5e5 if i % 11 else float("nan"),
            "ratio32": None if i % 7 == 0 else rng.random(),
            "status": None if i % 5 == 0 else ("" if i % 17 == 0 else f"st-{i}-é中"),
            "blob": None if i % 4 == 0 else bytes([i % 256, 255 - i % 256]),
            "amount": None if i % 6 == 0
            else decimal.Decimal(rng.randint(-10**16, 10**16)).scaleb(-2),
        })
    for j, amt in enumerate(["-1.28", "1.27", "0.00", "-0.01", "327.68"]):
        recs[j]["amount"] = decimal.Decimal(amt)

    per_rec = AC.compile_record_encoder(schema)
    expected = [b"\x00\x00\x00\x00\x2a" + per_rec(r) for r in recs]
    arr = pa.array(recs, type=AV.arrow_struct_type(schema))
    out = AV.compile_batch_encoder(schema)(arr, b"\x00\x00\x00\x00\x2a")
    got = [out[i].as_py() for i in range(len(recs))]
    assert got == expected
    # null record rows stay null; per-record fallback splices cleanly
    arr2 = pa.array([recs[0], None, recs[1]], type=AV.arrow_struct_type(schema))
    o2 = AV.compile_batch_encoder(schema)(arr2, b"")
    assert o2[1].as_py() is None
    assert o2[0].as_py() == per_rec(recs[0]) and o2[2].as_py() == per_rec(recs[1])


def test_enc_intlong_nullable_large_values_survive_null_in_batch():
    """A null anywhere in a nullable int/long column must not change
    how the VALID rows encode: pyarrow's bare to_numpy converts the
    whole column to float64 when nulls are present, silently rounding
    values above 2^53 (epoch-nanos, snowflake ids) before varint
    encoding. The encoder fills nulls first so the dtype stays
    integral (the filler is never written — null rows are handled by
    the union wrapper)."""
    import pyarrow as pa

    from maston_spark import avro_codec as AC
    from maston_spark import avro_vec as AV

    schema = {
        "name": "R", "type": "record",
        "fields": [
            {"name": "ts", "type": ["null", "long"], "default": None},
            {"name": "n", "type": ["null", "int"], "default": None},
        ],
    }
    recs = [
        {"ts": 2**60 + 1, "n": 7},
        {"ts": None, "n": None},          # the poison row
        {"ts": -(2**60 + 3), "n": -(2**31)},
        {"ts": 2**53 + 1, "n": 2**31 - 1},
        {"ts": 2**62 + 12345, "n": 0},
    ]
    per_rec = AC.compile_record_encoder(schema)
    expected = [per_rec(r) for r in recs]
    arr = pa.array(recs, type=AV.arrow_struct_type(schema))
    out = AV.compile_batch_encoder(schema)(arr, b"")
    assert [out[i].as_py() for i in range(len(recs))] == expected
