"""Seeded input generator for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs. Generated inputs are cached by seed under
``.perfbench/cache/`` in the checkout, so a repeated seed skips
generation, and set-up time never includes it either way.

- ``tables``: the star-schema tables the batch queries read, shaped
  like the engine's sf0.1 test data (row counts, key ranges, value
  grids, 5% near-duplicate documents, unit-norm 64-d embeddings).
- ``avro_stream``: Confluent-framed Avro records for the delta
  consumer, 10k per micro-batch, with Zipf + uniform key skew,
  ~50% value-change rate and ~5% corrupt frames.
- ``monitor_stream``: fixed-size batches for the sketch monitors,
  shaped like ``tools/bench_streaming.py``'s inputs.

The Avro encoder below is the benchmark's own (not the engine's), so a
codec bug in the engine cannot make inputs and decoder agree by
accident.
"""

from __future__ import annotations

import json
import os
import shutil
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_KEEP = 6  # seeds kept per input kind; older ones are evicted

# --- star-schema tables (sf0.1 shape) ---------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_VECS, DIM = 5_000, 2_000, 64

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _documents(rng):
    text = []
    for i in range(N_DOCS):
        if i > 100 and rng.random() < 0.05:
            # near-duplicate of an earlier document: same body + marker
            text.append(text[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            text.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": text,
            "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def _embeddings(rng):
    x = rng.standard_normal((N_VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32)),
        }
    )


def _events(rng):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    return pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1_500, N_EVENTS),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(60.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def build_tables(seed: int) -> dict:
    """All tables for one seed, as pandas frames / arrow tables."""
    rng = np.random.default_rng([seed, 1])
    t = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
                "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
                "c_acctbal": _cents(rng, N_CUSTOMER, -999.99, 9999.99),
                "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
                "s_acctbal": _cents(rng, N_SUPPLIER, -999.99, 9999.99),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
                "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
                "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
                "o_totalprice": _cents(rng, N_ORDERS, 1000.0, 500000.0),
                "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
                "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
                "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
                "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
                "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
                "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
                "l_extendedprice": _cents(rng, N_LINEITEM, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
                "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM),
                "l_linestatus": rng.choice(["F", "O"], N_LINEITEM),
                "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": _events(rng),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    return t


# --- Avro delta stream -------------------------------------------------

AVRO_SCHEMA = {
    "type": "record",
    "name": "DeltaRecord",
    "namespace": "perfbench",
    "fields": [
        {"name": "business_key", "type": "string"},
        {"name": "tracked_value", "type": "string"},
        {"name": "seq", "type": "long"},
        {"name": "amount_cents", "type": "long"},
        {"name": "note", "type": ["null", "string"], "default": None},
    ],
}
SCHEMA_ID = 42
N_KEYS = 20_000
BATCH_RECORDS = 10_000


def _varint(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)  # zigzag
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def _avro_str(s: str) -> bytes:
    b = s.encode()
    return _varint(len(b)) + b


def encode_delta_record(key: str, value: str, seq: int, cents: int, note) -> bytes:
    body = (
        _avro_str(key)
        + _avro_str(value)
        + _varint(seq)
        + _varint(cents)
        + (b"\x00" if note is None else b"\x02" + _avro_str(note))
    )
    return b"\x00" + struct.pack(">I", SCHEMA_ID) + body


def build_avro_stream(seed: int, n_batches: int):
    """``n_batches`` × 10k framed Avro values plus the ground truth the
    model check needs: per record (key, value, corrupt?), in seq order.

    Keys: half Zipf(1.2)-skewed (rank r drawn with weight r^-1.2,
    truncated to the key set), half uniform, over 20k keys. Values: a
    key's next record repeats its current value with p=0.5, else mints
    a fresh one, so about half the updates are suppressed. Corruption:
    ~2.5% truncated bodies, ~2.5% bad magic bytes."""
    rng = np.random.default_rng([seed, 2])
    n = n_batches * BATCH_RECORDS
    w = np.arange(1, N_KEYS + 1, dtype=np.float64) ** -1.2
    zipf = rng.choice(N_KEYS, n, p=w / w.sum())
    uni = rng.integers(0, N_KEYS, n)
    keys = np.where(rng.random(n) < 0.5, zipf, uni)
    repeat = rng.random(n) < 0.5
    cents = rng.integers(0, 100_000, n)
    has_note = rng.random(n) < 0.5
    corrupt = rng.random(n)
    values, truth = [], []
    current: dict[int, str] = {}
    for i in range(n):
        k = int(keys[i])
        v = current.get(k)
        if v is None or not repeat[i]:
            v = f"v{i}"
            current[k] = v
        key = f"key-{k:05d}"
        rec = encode_delta_record(
            key, v, i, int(cents[i]), f"note {i % 97}" if has_note[i] else None
        )
        bad = corrupt[i] < 0.05
        if bad and corrupt[i] < 0.025:
            rec = rec[: 5 + (len(rec) - 5) // 2]  # truncated body
        elif bad:
            rec = b"\x01" + rec[1:]  # bad magic byte
        values.append(rec)
        truth.append((key, v, bool(bad)))
    return values, truth


def delta_model(truth, n_batches: int):
    """Pure-Python emit-iff-changed + DLQ routing: expected (valid,
    error) sink counts per batch."""
    last: dict[str, str] = {}
    out = []
    for b in range(n_batches):
        ok = err = 0
        for key, value, bad in truth[b * BATCH_RECORDS : (b + 1) * BATCH_RECORDS]:
            if bad:
                err += 1
            elif last.get(key) != value:
                last[key] = value
                ok += 1
        out.append((ok, err))
    return out


# --- sketch-monitor streams (tools/bench_streaming.py shapes) ---------

MONITOR_ROWS = 20_000  # cms / kmv rows per batch
MONITOR_DOCS = 2_000  # vocab documents per batch


def build_monitor_stream(seed: int, n_batches: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    out = {"cms": [], "kmv": [], "vocab": []}
    for b in range(n_batches):
        i = np.arange(MONITOR_ROWS, dtype=np.int64)
        shift = int(rng.integers(0, 997))
        out["cms"].append(
            pd.DataFrame({"item": [f"item{x}" for x in (i * i + b + shift) % 997]})
        )
        out["kmv"].append(
            pd.DataFrame(
                {
                    "g": [f"ev{x}" for x in i % 5],
                    "v": rng.integers(0, 10_000_000, MONITOR_ROWS),
                }
            )
        )
        d = np.arange(MONITOR_DOCS)
        words = rng.integers(0, 3_000, (MONITOR_DOCS, 10))
        out["vocab"].append(
            pd.DataFrame(
                {
                    "src": [f"src{x}" for x in d % 3],
                    "text": [
                        " ".join(f"w{w}" for w in row) + f" new{b}_{j % 200}"
                        for j, row in enumerate(words)
                    ],
                }
            )
        )
    return out


# --- cache -------------------------------------------------------------


def _evict(kind_dir: str) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(kind_dir, e)), e)
        for e in os.listdir(kind_dir)
        if not e.startswith(".")
    )
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(kind_dir, e), ignore_errors=True)


def _cached(cache_root: str, kind: str, key: str, build) -> str:
    """Directory holding ``kind`` inputs for ``key``; ``build(tmp_dir)``
    fills it on a miss. The rename makes a half-written entry
    invisible."""
    kind_dir = os.path.join(cache_root, kind)
    path = os.path.join(kind_dir, key)
    if os.path.isfile(os.path.join(path, "_DONE")):
        os.utime(path)
        return path
    os.makedirs(kind_dir, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _evict(kind_dir)
    return path


def tables_dir(cache_root: str, seed: int) -> str:
    def build(d):
        for name, t in build_tables(seed).items():
            if isinstance(t, pd.DataFrame):
                t = pa.Table.from_pandas(t, preserve_index=False)
            pq.write_table(t, os.path.join(d, f"{name}.parquet"))

    return _cached(cache_root, "tables", f"s{seed}", build)


def _write_batches(d: str, frames, schema=None) -> None:
    # replay-source layout: one parquet file per micro-batch, b<i>/
    for i, t in enumerate(frames):
        if isinstance(t, pd.DataFrame):
            t = pa.Table.from_pandas(t, preserve_index=False)
        os.makedirs(os.path.join(d, f"b{i}"))
        pq.write_table(t, os.path.join(d, f"b{i}", "part-00000.parquet"))


def avro_dir(cache_root: str, seed: int, n_batches: int) -> str:
    def build(d):
        values, truth = build_avro_stream(seed, n_batches)
        _write_batches(
            d,
            [
                pa.table({"value": pa.array(values[b * BATCH_RECORDS : (b + 1) * BATCH_RECORDS], pa.binary())})
                for b in range(n_batches)
            ],
        )
        with open(os.path.join(d, "expected.json"), "w") as f:
            json.dump(delta_model(truth, n_batches), f)

    return _cached(cache_root, "avro", f"s{seed}_b{n_batches}", build)


def monitor_dir(cache_root: str, seed: int, n_batches: int) -> str:
    def build(d):
        for name, frames in build_monitor_stream(seed, n_batches).items():
            _write_batches(os.path.join(d, name), frames)

    return _cached(cache_root, "monitors", f"s{seed}_b{n_batches}", build)
