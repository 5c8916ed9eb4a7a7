"""Streaming-topology bench: drive every durable-state topology with
N fixed-size micro-batches (the replay source — the TopologyTestDriver
analogue) and record, per batch:

- trigger wall time (Spark's own ``triggerExecution`` from
  ``recentProgress`` — not wrapper timing),
- state bytes WRITTEN by the batch (new files under the state dir
  since the previous emission — the write-amplification metric that
  separates an O(batch) delta append from an O(|state|) full rewrite),
- live state bytes at emission time.

The claim under test (SCALE.md "streaming" section): with fixed-size
batches, per-batch wall time and per-batch written bytes stay FLAT as
history accumulates — the micro-batch cost is bounded by the batch and
the state's own working set, never by how much was ingested before.
A topology whose written bytes grow linearly with batch index is
rewriting its full state each batch (the pre-round-15 vocab regime).

Usage: python tools/bench_streaming.py [n_batches] [topology ...]
Prints ONE JSON line; also refreshes ``_stream_bench.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402


def _payload(key, value, seq):
    return json.dumps(
        {"business_key": key, "string_value": value, "seq": seq}
    )


def _dir_files(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class _StateTracker:
    """Per-emission write-amplification tracker for one state dir."""

    def __init__(self, state_dir):
        self.state_dir = state_dir
        self.prev: dict = {}
        self.rows: list = []

    def snap(self, batch_id):
        cur = _dir_files(self.state_dir)
        written = sum(
            sz for p, sz in cur.items() if p not in self.prev
        )
        self.prev = cur
        self.rows.append(
            {
                "batch": int(batch_id),
                "written_bytes": int(written),
                "state_bytes": int(sum(cur.values())),
                "state_files": len(cur),
            }
        )


def _progress_walls(query):
    walls = {}
    for p in query.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        bid = d.get("batchId")
        dur = (d.get("durationMs") or {}).get("triggerExecution")
        rows = d.get("numInputRows")
        if bid is not None and dur is not None and rows:
            walls[int(bid)] = float(dur) / 1000.0
    return walls


def _mk(spark, rows, schema, batches):
    from maston_spark.sources import replay_stream

    return replay_stream(spark.createDataFrame(rows, schema), batches=batches)


# --- per-topology drivers ------------------------------------------------
# Each returns (stream_source_dir, query, tracker) after wiring the
# topology onto a replay stream; the caller runs processAllAvailable.

ROWS = 20_000  # fixed batch size for the counter/sketch monitors
DOCS = 2_000  # fixed batch size for the document topologies


def run_delta(spark, n, chk):
    from maston_spark.streaming.topology import delta_topology

    keys = 2_000
    rows = [
        (
            _payload(f"k{i % keys}", f"v{b}.{i}", b * ROWS + i),
            b,
        )
        for b in range(n)
        for i in range(0, ROWS, 4)  # 5k msgs/batch: json parse is the cost
    ]
    stream, src = _mk(spark, rows, "value string, __replay_batch int", n)
    tr = _StateTracker(f"{chk}/delta_state")
    q = delta_topology(
        stream,
        "business_key string, string_value string, seq bigint",
        app_id="bench-delta",
        checkpoint=chk,
        business_key=F.col("ok.business_key"),
        order_cols=["ok.seq"],
        is_updated=lambda old, new: new["ok"]["seq"] > old["ok"]["seq"],
        write_valid=lambda df: df.count(),
        write_error=lambda df: df.count(),
        on_metrics=lambda bid, c: tr.snap(bid),
    )
    return src, q, tr


def run_curation(spark, n, chk):
    from maston_spark.streaming.topology import curation_topology

    gate = dict(
        min_tokens=3,
        max_tokens=1000,
        min_avg_token_len=0.0,
        max_avg_token_len=1000.0,
        min_stopword_ratio=0.0,
        max_top_bigram_frac=1.0,
        max_dup_bigram_frac=1.0,
    )
    rows = [
        (
            json.dumps(
                {
                    "doc_id": b * DOCS + i,
                    "text": " ".join(
                        f"tok{(b * DOCS + i + j) % 5000}" for j in range(12)
                    ),
                }
            ),
            b,
        )
        for b in range(n)
        for i in range(DOCS)
    ]
    stream, src = _mk(spark, rows, "value string, __replay_batch int", n)
    ref = spark.createDataFrame(
        [(i, f"ref doc {i} alpha beta gamma") for i in range(100)],
        "doc_id bigint, text string",
    )
    tr = _StateTracker(f"{chk}/curation_state")
    q = curation_topology(
        stream,
        "doc_id bigint, text string",
        ref,
        app_id="bench-curation",
        checkpoint=chk,
        write_valid=lambda df: df.count(),
        write_error=lambda df: df.count(),
        gate_kwargs=gate,
        on_metrics=lambda bid, c: tr.snap(bid),
    )
    return src, q, tr


def run_kmv(spark, n, chk):
    from maston_spark.streaming.topology import sketch_metrics_topology

    rows = [
        (f"ev{i % 5}", (b * ROWS + i * 2654435761) % 10_000_000, b)
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(
        spark, rows, "g string, v long, __replay_batch int", n
    )
    tr = _StateTracker(f"{chk}/kmv_state")
    q = sketch_metrics_topology(
        stream,
        group_col="g",
        value_col="v",
        k=256,
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_cms(spark, n, chk):
    from maston_spark.streaming.topology import cms_watchlist_topology

    rows = [
        (f"item{(i * i + b) % 997}", b)
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(spark, rows, "item string, __replay_batch int", n)
    tr = _StateTracker(f"{chk}/cms_state")
    q = cms_watchlist_topology(
        stream,
        item_col="item",
        watch=["item1", "item7", "item42", "item99", "item500"],
        depth=3,
        width=1024,
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_kll(spark, n, chk):
    from maston_spark.streaming.topology import quantile_metrics_topology

    rows = [
        (f"g{i % 4}", b * ROWS + i, (i * 2654435761) % 1_000_000, b)
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(
        spark, rows, "g string, k long, v long, __replay_batch int", n
    )
    tr = _StateTracker(f"{chk}/quantile_state")
    q = quantile_metrics_topology(
        stream,
        group_col="g",
        key_col="k",
        value_col="v",
        k=256,
        qs=[0.5, 0.95],
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_drift(spark, n, chk):
    from maston_spark.streaming.topology import drift_monitor_topology

    rows = [
        ((i * 7 + b * 13) % 1000, b) for b in range(n) for i in range(ROWS)
    ]
    stream, src = _mk(spark, rows, "v long, __replay_batch int", n)
    ref = spark.createDataFrame(
        [((i * 3) % 1000,) for i in range(10_000)], "v long"
    )
    tr = _StateTracker(f"{chk}/drift_state")
    q = drift_monitor_topology(
        stream,
        ref,
        value_col="v",
        n_bins=10,
        threshold=0.2,
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_hll(spark, n, chk):
    from maston_spark.streaming.topology import hll_rolling_topology

    base = 1_700_000_000
    rows = [
        (base + b * 86_400 + (i % 86_400), (b * ROWS + i * 37) % 500_000, b)
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(
        spark,
        [(r[0], r[1], r[2]) for r in rows],
        "ts_sec long, v long, __replay_batch int",
        n,
    )
    stream = stream.select(
        F.timestamp_seconds("ts_sec").alias("ts"), "v"
    )
    tr = _StateTracker(f"{chk}/hll_state")
    q = hll_rolling_topology(
        stream,
        ts_col="ts",
        value_col="v",
        window_days=7,
        p=8,
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_srm(spark, n, chk):
    from maston_spark.streaming.topology import srm_monitor_topology

    rows = [
        ("A" if (i + b) % 2 == 0 else "B", b)
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(spark, rows, "variant string, __replay_batch int", n)
    tr = _StateTracker(f"{chk}/srm_state")
    q = srm_monitor_topology(
        stream,
        variant_col="variant",
        expected={"A": 0.5, "B": 0.5},
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_cusum(spark, n, chk):
    from maston_spark.streaming.topology import cusum_monitor_topology

    base = 1_700_000_000
    rows = [
        (f"svc{i % 3}", base + b * 3_600 + (i % 3_600), b)
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(
        spark, rows, "g string, ts_sec long, __replay_batch int", n
    )
    stream = stream.select(
        "g", F.timestamp_seconds("ts_sec").alias("ts")
    )
    tr = _StateTracker(f"{chk}/cusum_state")
    q = cusum_monitor_topology(
        stream,
        group_col="g",
        ts_col="ts",
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_vocab(spark, n, chk):
    from maston_spark.streaming.topology import vocab_saturation_topology

    # Heaps-ish growth: each batch repeats a core vocabulary and mints
    # a few new tokens, so |vocab| grows while batches stay fixed-size
    rows = [
        (
            f"src{i % 3}",
            " ".join(
                f"w{(i * 11 + j) % 3000}" for j in range(10)
            )
            + f" new{b}_{i % 200}",
            b,
        )
        for b in range(n)
        for i in range(DOCS)
    ]
    stream, src = _mk(
        spark, rows, "src string, text string, __replay_batch int", n
    )
    tr = _StateTracker(f"{chk}/vocab_state")
    q = vocab_saturation_topology(
        stream,
        group_col="src",
        text_col="text",
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_privacy(spark, n, chk):
    from maston_spark.streaming.topology import privacy_gate_topology

    rows = [
        (
            f"age{(i + b) % 8}",
            f"zip{i % 50}",
            f"dx{(i * 7) % 12}",
            b,
        )
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(
        spark,
        rows,
        "age_band string, zip3 string, sv string, __replay_batch int",
        n,
    )
    tr = _StateTracker(f"{chk}/privacy_state")
    q = privacy_gate_topology(
        stream,
        qi_cols=["age_band", "zip3"],
        sensitive_col="sv",
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_contamination(spark, n, chk):
    from maston_spark.streaming.topology import contamination_gate_topology

    bench = spark.createDataFrame(
        [(i, " ".join(f"ev{i}_{j}" for j in range(12))) for i in range(200)],
        "doc_id long, text string",
    )
    rows = [
        (
            f"src{i % 3}",
            b * DOCS + i,
            # ~5% of docs quote an eval doc verbatim; the rest are clean
            (
                " ".join(f"ev{(i // 20) % 200}_{j}" for j in range(12))
                if i % 20 == 0
                else " ".join(
                    f"w{(b * DOCS + i + j) % 9000}" for j in range(12)
                )
            ),
            b,
        )
        for b in range(n)
        for i in range(DOCS)
    ]
    stream, src = _mk(
        spark,
        rows,
        "src string, doc_id long, text string, __replay_batch int",
        n,
    )
    tr = _StateTracker(f"{chk}/contamination_state")
    q = contamination_gate_topology(
        stream,
        bench,
        group_col="src",
        id_col="doc_id",
        text_col="text",
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
        n=3,
    )
    return src, q, tr






def run_ams(spark, n, chk):
    from maston_spark.streaming.topology import ams_monitor_topology

    rows = [
        (
            "a" if i % 2 == 0 else "b",
            str((b * ROWS + i * 13) % 50_000),
            b,
        )
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(
        spark, rows, "side string, key string, __replay_batch int", n
    )
    tr = _StateTracker(f"{chk}/ams_state")
    q = ams_monitor_topology(
        stream,
        side_col="side",
        key_col="key",
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


# --- grow-the-keys stress (round-15 verdict task 6) -----------------
# The standard runs above hold key cardinality roughly constant; one
# run per durable-state LAYOUT family below grows |keys|/|groups|/
# |vocab| ~10x across the batches, so the written-bytes curve reveals
# the layout's contract directly: the per-key delta store and the
# segmented vocab store write O(touched-this-batch) regardless of how
# big the live state has grown, while the counter-SNAPSHOT layout
# rewrites its whole (group x counter) table each batch — written
# bytes GROW with |groups| exactly as that layout documents.


def _growkey(b: int, j: int) -> int:
    """Key of row ``j`` (0..4999) of batch ``b``: half the rows update
    the 500 keys minted in this batch, the other half a 750-key window
    of the older keys that slides by 131 per batch. A batch therefore
    touches at most 1 250 keys while the live set grows by 500."""
    k = j // 2
    if b == 0 or j % 2 == 0:
        return 500 * b + k % 500
    return (131 * b + k % 750) % (500 * b)


def run_delta_growkeys(spark, n, chk):
    """Per-key delta-store family: keyspace grows 500 -> 500*n while
    the batch stays 5k rows touching at most 1 250 keys — written
    bytes must track the batch's touched keys, not the accumulated
    key count."""
    from maston_spark.streaming.topology import delta_topology

    rows = [
        (
            _payload(f"k{_growkey(b, i // 4)}", f"v{b}.{i}", b * ROWS + i),
            b,
        )
        for b in range(n)
        for i in range(0, ROWS, 4)
    ]
    stream, src = _mk(spark, rows, "value string, __replay_batch int", n)
    tr = _StateTracker(f"{chk}/delta_state")
    q = delta_topology(
        stream,
        "business_key string, string_value string, seq bigint",
        app_id="bench-delta-growkeys",
        checkpoint=chk,
        business_key=F.col("ok.business_key"),
        order_cols=["ok.seq"],
        is_updated=lambda old, new: new["ok"]["seq"] > old["ok"]["seq"],
        write_valid=lambda df: df.count(),
        write_error=lambda df: df.count(),
        on_metrics=lambda bid, c: tr.snap(bid),
    )
    return src, q, tr


def run_vocab_growkeys(spark, n, chk):
    """Segmented-delta family: |vocab| grows 2k -> 2k*n (every batch
    mints a fresh 2k-token block) while batches stay DOCS docs —
    the segmented layout appends the new block and compacts
    occasionally; written bytes stay O(batch), never O(|vocab|)."""
    from maston_spark.streaming.topology import vocab_saturation_topology

    rows = [
        (
            f"src{i % 3}",
            " ".join(
                f"w{(b * 2000 + (i * 10 + j) * 13 % 2000)}"
                for j in range(10)
            ),
            b,
        )
        for b in range(n)
        for i in range(DOCS)
    ]
    stream, src = _mk(
        spark, rows, "src string, text string, __replay_batch int", n
    )
    tr = _StateTracker(f"{chk}/vocab_state")
    q = vocab_saturation_topology(
        stream,
        group_col="src",
        text_col="text",
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


def run_cusum_growkeys(spark, n, chk):
    """Counter-SNAPSHOT family: the monitor keeps one counter row per
    group and rewrites the table each batch; groups grow 3 -> 3*n, so
    written bytes GROW with |groups| — the documented O(|state|)
    contract of the snapshot layout (the contrast row for the two
    O(batch) families above)."""
    from maston_spark.streaming.topology import cusum_monitor_topology

    base = 1_700_000_000
    rows = [
        (f"svc{i % (3 * (b + 1))}", base + b * 3_600 + (i % 3_600), b)
        for b in range(n)
        for i in range(ROWS)
    ]
    stream, src = _mk(
        spark, rows, "g string, ts_sec long, __replay_batch int", n
    )
    stream = stream.select(
        "g", F.timestamp_seconds("ts_sec").alias("ts")
    )
    tr = _StateTracker(f"{chk}/cusum_state")
    q = cusum_monitor_topology(
        stream,
        group_col="g",
        ts_col="ts",
        checkpoint=chk,
        write_metrics=lambda df, bid: (df.collect(), tr.snap(bid)),
    )
    return src, q, tr


TOPOLOGIES = {
    "delta": (run_delta, 5_000),
    "curation": (run_curation, DOCS),
    "kmv_sketch": (run_kmv, ROWS),
    "cms_watchlist": (run_cms, ROWS),
    "kll_quantiles": (run_kll, ROWS),
    "drift_monitor": (run_drift, ROWS),
    "hll_rolling": (run_hll, ROWS),
    "srm_monitor": (run_srm, ROWS),
    "cusum_monitor": (run_cusum, ROWS),
    "vocab_saturation": (run_vocab, DOCS),
    "privacy_gate": (run_privacy, ROWS),
    "contamination_gate": (run_contamination, DOCS),
    "ams_monitor": (run_ams, ROWS),
    # grow-the-keys stress rows — see the runner docstrings
    "delta_growkeys": (run_delta_growkeys, 5_000),
    "vocab_growkeys": (run_vocab_growkeys, DOCS),
    "cusum_growkeys": (run_cusum_growkeys, ROWS),
}


def bench_one(spark, name, n_batches):
    runner, batch_rows = TOPOLOGIES[name]
    chk = tempfile.mkdtemp(prefix=f"sbench_{name}_")
    src = None
    try:
        src, q, tr = runner(spark, n_batches, chk)
        try:
            q.processAllAvailable()
            walls = _progress_walls(q)
        finally:
            q.stop()
        per_batch = []
        for row in tr.rows:
            row = dict(row)
            row["wall_sec"] = round(walls.get(row["batch"], float("nan")), 3)
            per_batch.append(row)
        first = per_batch[0] if per_batch else {}
        last = per_batch[-1] if per_batch else {}
        return {
            "topology": name,
            "batches": n_batches,
            "rows_per_batch": batch_rows,
            "per_batch": per_batch,
            "wall_first_sec": first.get("wall_sec"),
            "wall_last_sec": last.get("wall_sec"),
            "written_first_bytes": first.get("written_bytes"),
            "written_last_bytes": last.get("written_bytes"),
            "state_first_bytes": first.get("state_bytes"),
            "state_last_bytes": last.get("state_bytes"),
        }
    finally:
        shutil.rmtree(chk, ignore_errors=True)
        if src:
            shutil.rmtree(src, ignore_errors=True)


def main():
    args = sys.argv[1:]
    n_batches = int(args[0]) if args and args[0].isdigit() else 10
    names = [a for a in args if not a.isdigit()] or list(TOPOLOGIES)

    from maston_spark.session import build_session

    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = None
    spark = build_session("maston-spark-stream-bench")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    for name in names:
        r = bench_one(spark, name, n_batches)
        results.append(r)
        print(
            f"# {name}: wall {r['wall_first_sec']}s -> {r['wall_last_sec']}s, "
            f"written {r['written_first_bytes']}B -> {r['written_last_bytes']}B, "
            f"state {r['state_first_bytes']}B -> {r['state_last_bytes']}B",
            file=sys.stderr,
        )
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(here, "_stream_bench.json")
    prior = None
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prior = json.load(f)
        except ValueError:
            prior = None
    record = merge_record(prior, results, load)
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))


def merge_record(prior: dict | None, results: list[dict], load) -> dict:
    """The ``_stream_bench.json`` record after a run: ``results`` replace
    the prior rows of the same topology and every other prior row stays
    (a partial re-run of named topologies must not clobber the rest).
    Each row carries its own ``batches``, so the record has no run-wide
    batch count; ``loadavg_start`` is the load when this run started."""
    merged = {r.get("topology"): r for r in (prior or {}).get("results", [])}
    for r in results:
        merged[r["topology"]] = r
    return {
        "metric": "streaming_topology_bench",
        "loadavg_start": load,
        "results": list(merged.values()),
    }


if __name__ == "__main__":
    main()
