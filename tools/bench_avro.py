"""Microbenchmark: per-record compiled Avro decode vs vectorized batch decode.

Measures the two decode engines of the jar-less Avro serde
(``validated.safe_from_avro_evolving`` and its sugar
``safe_from_avro_arrow``): the compiled per-record closures
(``avro_codec.compile_record_decoder``, which decode the records the
batch pass cannot and every record of a schema with arrays or maps)
and the numpy/pyarrow batch decode
(``avro_vec.compile_batch_decoder``) on the q73 record shape —
long + nullable string + string + nullable decimal(12,2) — with the
same ~13% injected corruption mix q73 uses, outside Spark so the
numbers isolate decode cost from scan/shuffle.

Run: python tools/bench_avro.py [n_records]
Prints one JSON line with per-row ns for both engines and the ratio.

Reference hot loop this replaces:
serdes/VavrSafeDeserializer.java:29-39.
"""

from __future__ import annotations

import decimal
import json
import sys
import time

import pyarrow as pa

sys.path.insert(0, ".")

from maston_spark import avro_codec as AC  # noqa: E402
from maston_spark import avro_vec as AV  # noqa: E402
from maston_spark.queries.avro_q import AVRO_SCHEMA, SCHEMA_ID  # noqa: E402


def payloads(n: int) -> list[bytes]:
    out = []
    for k in range(1, n + 1):
        body = AC.encode_record(
            AVRO_SCHEMA,
            {
                "id": k,
                "status": None if k % 5 == 0 else "OK",
                "priority": f"{k % 5}-PRIO",
                "amount": decimal.Decimal((k * 137) % 1_000_000).scaleb(-2),
            },
        )
        framed = AC.confluent_wrap(SCHEMA_ID, body)
        if k % 13 == 0:
            framed = framed[:4]
        elif k % 17 == 0:
            framed = framed[:5] + b"\xff"
        out.append(framed)
    return out


def bench_per_record(data: list[bytes], reps: int) -> float:
    dec = AC.compile_record_decoder(AVRO_SCHEMA)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        n_err = 0
        for raw in data:
            try:
                if len(raw) < 5 or raw[0]:
                    raise AC.AvroDecodeError("not a Confluent-framed payload")
                dec(raw[5:])
            except Exception:
                n_err += 1
        best = min(best, time.perf_counter() - t0)
    return best


def bench_vectorized(data: list[bytes], reps: int, batch: int = 10_000) -> float:
    dec = AV.compile_batch_decoder(AVRO_SCHEMA)
    arrs = [
        pa.array(data[i: i + batch], type=pa.binary())
        for i in range(0, len(data), batch)
    ]
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        for arr in arrs:
            dec(arr, True)
        best = min(best, time.perf_counter() - t0)
    return best


def bench_encode(n: int, reps: int) -> float:
    """Compiled encoder (the safe-serializer hot loop,
    serdes/VavrSafeSerializer.java:26-52)."""
    enc = AC.compile_record_encoder(AVRO_SCHEMA)
    recs = [
        {
            "id": k,
            "status": None if k % 5 == 0 else "OK",
            "priority": f"{k % 5}-PRIO",
            "amount": decimal.Decimal((k * 137) % 1_000_000).scaleb(-2),
        }
        for k in range(1, n + 1)
    ]
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        for r in recs:
            enc(r)
        best = min(best, time.perf_counter() - t0)
    return best


def bench_encode_vectorized(n: int, reps: int, batch: int = 10_000) -> float:
    recs = [
        {
            "id": k,
            "status": None if k % 5 == 0 else "OK",
            "priority": f"{k % 5}-PRIO",
            "amount": decimal.Decimal((k * 137) % 1_000_000).scaleb(-2),
        }
        for k in range(1, n + 1)
    ]
    typ = AV.arrow_struct_type(AVRO_SCHEMA)
    arrs = [
        pa.array(recs[i : i + batch], type=typ) for i in range(0, len(recs), batch)
    ]
    enc = AV.compile_batch_encoder(AVRO_SCHEMA)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        for a in arrs:
            enc(a, b"\x00\x00\x00\x00\x2a")
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    data = payloads(n)
    reps = 3
    t_rec = bench_per_record(data, reps)
    t_vec = bench_vectorized(data, reps)
    t_enc = bench_encode(n, reps)
    t_enc_vec = bench_encode_vectorized(n, reps)
    print(
        json.dumps(
            {
                "n_records": n,
                "per_record_ns_per_row": round(t_rec / n * 1e9, 1),
                "vectorized_ns_per_row": round(t_vec / n * 1e9, 1),
                "speedup": round(t_rec / t_vec, 2),
                "encode_ns_per_row": round(t_enc / n * 1e9, 1),
                "encode_vectorized_ns_per_row": round(t_enc_vec / n * 1e9, 1),
                "encode_speedup": round(t_enc / t_enc_vec, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
