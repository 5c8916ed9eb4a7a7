"""Stream workloads: closed loop at saturation on the replay source.

The backlog is staged as one parquet file per micro-batch in the
replay-source layout (``b<i>/``) and read with ``maxFilesPerTrigger=1``
— exactly how :func:`maston_spark.sources.replay_stream` streams a
frame back, minus the Spark job that writes the files (the files are
generated and cached by seed instead). Batch 0 is the warm-up; the
timed batches are staged after it completes and drained with
``processAllAvailable``. Trigger times come from Spark's own
``recentProgress``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

import gen
from attribution import METRIC_NAMES
from common import log, median

OP_TIMEOUT_S = 150.0
# nominal seconds per timed micro-batch on the reference host; sizes
# the backlog from --seconds (a constant, so the work per run is a
# function of the arguments only). At least three timed batches, so
# the per-run median shrugs off one batch slowed by a noisy host.
NOMINAL_BATCH_S = {"delta": 5.0, "monitors": 1.5}
MIN_TIMED = 3


def _n_timed(seconds: float, kind: str) -> int:
    return max(MIN_TIMED, round(seconds / NOMINAL_BATCH_S[kind]))


def _e2e(ctx, phs, warm_s: float) -> dict:
    """End-to-end metrics of the timed batches. A batch of a workload
    with several topologies is one batch of each, so its time is their
    sum."""
    per_batch = [sum(x) for x in zip(*[_trigger_s(p, "timed") for p in phs])]
    rows = [
        sum(int(p.progress[b]["numInputRows"]) for p in phs)
        for b in phs[0].ids["timed"]
    ]
    return {
        "setup_s": ctx.session_s + warm_s,
        "records_per_s": median([r / t for r, t in zip(rows, per_batch)]),
        "batch_s_p50": median(per_batch),
        "pipeline_s": sum(per_batch),
    }


def _stage(src_dir: str, batch_dirs: list[str]) -> None:
    """Copy cached batch files into the live source dir, with strictly
    increasing mtimes (the file source orders by modification time)."""
    base = time.time_ns()
    for i, d in enumerate(batch_dirs):
        dst = os.path.join(src_dir, os.path.basename(d))
        shutil.copytree(d, dst)
        for f in os.listdir(dst):
            t = base + i * 1_000_000
            os.utime(os.path.join(dst, f), ns=(t, t))


def _replay(spark, src_dir: str, schema: str):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src_dir, "b*"))
    )


def _progress(q) -> dict[int, dict]:
    out = {}
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        if d.get("numInputRows"):
            out[int(d["batchId"])] = d
    return out


def _drain(ctx, q, what: str) -> bool:
    """processAllAvailable with a timeout; False on error/timeout."""
    timer = threading.Timer(OP_TIMEOUT_S, q.stop)
    timer.start()
    try:
        q.processAllAvailable()
        return q.exception() is None
    except Exception as exc:  # noqa: BLE001 — counted as failed ops
        log(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")
        return False
    finally:
        timer.cancel()


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class StateTracker:
    """Per-batch state-store footprint: bytes of files new since the
    previous batch, live bytes and live file count (traced run only)."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        self.prev: dict[str, int] = {}
        self.rows: dict[int, dict] = {}

    def snap(self, batch_id: int) -> None:
        cur = _dir_files(self.state_dir)
        row = self.rows.setdefault(
            batch_id, {"bytes_written": 0, "bytes_live": 0, "files": 0}
        )
        row["bytes_written"] += sum(s for p, s in cur.items() if p not in self.prev)
        row["bytes_live"] = sum(cur.values())
        row["files"] = len(cur)
        self.prev = cur


class SinkTimer:
    """The benchmark's sink callbacks (a no-op write, or a collect for
    the monitors' check), timed; the time is booked to the batch that
    ``close(batch_id)`` names."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.pending = 0.0
        self.by_batch: dict[int, float] = {}

    def noop(self, df) -> None:
        t0 = time.perf_counter()
        with self.ctx.tracer.span("sinks.emit"):
            df.write.format("noop").mode("overwrite").save()
        self.pending += time.perf_counter() - t0

    def collect(self, df, sink: dict, batch_id: int) -> None:
        t0 = time.perf_counter()
        with self.ctx.tracer.span("sinks.emit"):
            sink[batch_id] = sorted(tuple(r) for r in df.collect())
        self.pending += time.perf_counter() - t0

    def close(self, batch_id: int) -> None:
        self.by_batch[batch_id] = self.by_batch.get(batch_id, 0.0) + self.pending
        self.pending = 0.0


def _stream_layers(ctx, q, progress: dict, ids: list[int], sinks: SinkTimer,
                   tracker: StateTracker) -> dict:
    """Per-batch medians, over batches ``ids``, of the stream layer
    split (traced run)."""

    def dur(bid, *keys):
        d = progress[bid].get("durationMs") or {}
        return sum(float(d.get(k, 0.0)) for k in keys) / 1e3

    def med(f):
        return median([f(b) for b in ids])

    attr = ctx.tracer.attr
    run_id = str(q.runId)
    spark_rows = {}
    for b in ids:
        start = _iso_ms(progress[b]["timestamp"])
        end = start + dur(b, "triggerExecution") * 1e3
        jobs = attr.jobs_between(run_id, start - 1, end + 1)
        st = attr.job_stats(jobs)
        st["driver_gap_s"] = max(0.0, dur(b, "triggerExecution") - st["stage_s"])
        spark_rows[b] = st
    out = {
        "sources.get_batch_s": med(lambda b: dur(b, "getBatch", "latestOffset")),
        "streaming.plan_s": med(lambda b: dur(b, "queryPlanning")),
        "streaming.commit_s": med(lambda b: dur(b, "walCommit", "commitOffsets")),
        "streaming.add_batch_s": med(lambda b: dur(b, "addBatch")),
        "sinks.emit_s": med(lambda b: sinks.by_batch.get(b, 0.0)),
        "topology.state_s": med(
            lambda b: max(0.0, dur(b, "addBatch") - sinks.by_batch.get(b, 0.0))
        ),
        "topology.state_bytes_written": med(lambda b: tracker.rows.get(b, {}).get("bytes_written", 0)),
        "topology.state_bytes_live": med(lambda b: tracker.rows.get(b, {}).get("bytes_live", 0)),
        "topology.state_files": med(lambda b: tracker.rows.get(b, {}).get("files", 0)),
    }
    for key, name in METRIC_NAMES.items():
        out[name] = med(lambda b: spark_rows[b][key])
    return out


def _iso_ms(ts: str) -> float:
    from datetime import datetime, timezone

    return (
        datetime.strptime(ts.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
        * 1e3
    )


# --- one topology through warm-up, timed and traced phases ----------


class Phases:
    """Batch ids per phase plus what the drive observed."""

    def __init__(self, n_timed: int, traced: bool):
        self.ids = {"warmup": [0], "timed": list(range(1, 1 + n_timed))}
        if traced:
            self.ids["traced"] = list(range(1 + n_timed, 1 + 2 * n_timed))
        self.ok: dict[str, bool] = {}
        self.progress: dict[int, dict] = {}
        self.warm_s = 0.0
        self.q = None

    def phase_of(self, batch_id: int) -> str:
        return next(p for p, ids in self.ids.items() if batch_id in ids)


def drive(ctx, name: str, start, batch_dirs: list[str], schema: str,
          n_timed: int, on_traced=None) -> Phases:
    """Stage batch 0 and start the topology (``start(stream_df)``),
    drain the warm-up, then stage and drain the timed batches and, in a
    traced run, the traced ones. Tracing is off during the timed phase
    so its figures match an untraced run's."""
    ph = Phases(n_timed, ctx.traced)
    src = os.path.join(ctx.work, name, "src")
    os.makedirs(src)
    _stage(src, batch_dirs[:1])
    ctx.tracer.on = ctx.traced
    t0 = time.perf_counter()
    with ctx.tracer.span(f"{name}.start"):
        ph.q = start(_replay(ctx.spark, src, schema))
    try:
        with ctx.tracer.span(f"{name}.warmup.processAllAvailable"):
            ph.ok["warmup"] = _drain(ctx, ph.q, f"{name} warm-up batch")
        ph.warm_s = time.perf_counter() - t0
        for phase in ("timed", "traced"):
            if phase not in ph.ids:
                continue
            ctx.tracer.on = phase == "traced"
            if ctx.tracer.on and on_traced is not None:
                on_traced()
            _stage(src, [batch_dirs[i] for i in ph.ids[phase]])
            with ctx.tracer.span(f"{name}.{phase}.processAllAvailable"):
                ph.ok[phase] = _drain(ctx, ph.q, f"{name} {phase} batches")
        ph.progress = _progress(ph.q)
    finally:
        ph.q.stop()
        ctx.tracer.on = False
    missing = [b for ids in ph.ids.values() for b in ids if b not in ph.progress]
    if missing:
        raise RuntimeError(f"{name}: batches {missing} did not complete")
    return ph


def _trigger_s(ph: Phases, phase: str) -> list[float]:
    return [
        float(ph.progress[b]["durationMs"]["triggerExecution"]) / 1e3
        for b in ph.ids[phase]
    ]


def _overhead(ph_list) -> dict:
    """Traced vs untraced median trigger time, same run."""
    timed = median([sum(x) for x in zip(*[_trigger_s(p, "timed") for p in ph_list])])
    traced = median([sum(x) for x in zip(*[_trigger_s(p, "traced") for p in ph_list])])
    return {"trace.overhead_frac": traced / timed - 1.0}


# --- stream_delta_avro ------------------------------------------------


def _n_batches(ctx, kind: str) -> int:
    # warm-up + timed + traced; untraced runs use a prefix of the same
    # cached backlog
    return 1 + 2 * _n_timed(ctx.seconds, kind)


def prepare(ctx):
    if ctx.args.workload == "stream_delta_avro":
        return gen.avro_dir(ctx.cache, ctx.seed, _n_batches(ctx, "delta"))
    return gen.monitor_dir(ctx.cache, ctx.seed, _n_batches(ctx, "monitors"))


def run(ctx, inputs):
    if ctx.args.workload == "stream_delta_avro":
        return run_delta(ctx, inputs)
    return run_monitors(ctx, inputs)


def _is_updated():
    # built per call so cloudpickle ships it by value: Python workers
    # never import the benchmark's own modules
    return lambda old, new: old["ok"]["tracked_value"] != new["ok"]["tracked_value"]


def run_delta(ctx, cache_dir: str):
    from pyspark.sql import functions as F

    from maston_spark.streaming.topology import delta_topology

    n_timed = _n_timed(ctx.seconds, "delta")
    batch_dirs = [os.path.join(cache_dir, f"b{i}") for i in range(1 + 2 * n_timed)]
    with open(os.path.join(cache_dir, "expected.json")) as f:
        expected = json.load(f)
    chk = os.path.join(ctx.work, "delta", "chk")
    sinks = SinkTimer(ctx)
    tracker = StateTracker(os.path.join(chk, "delta_state"))
    counts: dict[int, dict] = {}

    def on_metrics(batch_id, c):
        sinks.close(batch_id)
        counts[batch_id] = dict(c)
        if ctx.tracer.on:
            tracker.snap(batch_id)

    def start(stream):
        return delta_topology(
            stream,
            gen.AVRO_SCHEMA,
            app_id="perfbench-delta",
            checkpoint=chk,
            business_key=F.col("ok.business_key"),
            order_cols=["ok.seq"],
            is_updated=_is_updated(),
            write_valid=sinks.noop,
            write_error=sinks.noop,
            on_metrics=on_metrics,
            value_format="avro",
        )

    ph = drive(ctx, "delta", start, batch_dirs, "value binary", n_timed,
               on_traced=lambda: tracker.snap(-1))
    for b in sorted(counts):
        want = {"valid": expected[b][0], "error": expected[b][1]}
        ok = counts[b] == want and ph.ok[ph.phase_of(b)]
        ctx.op_result(ok, f"delta batch {b}: got {counts[b]} want {want}")
    e2e = _e2e(ctx, [ph], ph.warm_s)
    layers = {}
    if ctx.traced:
        ids = ph.ids["traced"]
        layers = _stream_layers(ctx, ph.q, ph.progress, ids, sinks, tracker)
        valid = sum(counts[b]["valid"] for b in ids)
        error = sum(counts[b]["error"] for b in ids)
        rows = sum(int(ph.progress[b]["numInputRows"]) for b in ids)
        layers["sinks.valid_rows"] = valid / len(ids)
        layers["validated.error_rows"] = error / len(ids)
        layers["delta.emit_ratio"] = valid / max(1, rows - error)
        layers.update(_overhead([ph]))
        ctx.tracer.on = True
        layers.update(_delta_isolated(ctx, batch_dirs[1]))
        ctx.tracer.on = False
    return e2e, layers


def _delta_isolated(ctx, batch_dir: str) -> dict:
    """The decode and fold layers called directly on one staged batch:
    the Python decoder in-process, then the validated decode and the
    delta fold as Spark jobs (no-op sink)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from maston_spark import avro_vec
    from maston_spark.delta import delta_dedup_fold
    from maston_spark.validated import safe_from_avro_arrow

    spark = ctx.spark
    values = pq.read_table(batch_dir).column("value").combine_chunks()
    decode = avro_vec.compile_batch_decoder(gen.AVRO_SCHEMA)
    reps = []
    for _ in range(5):
        t0 = time.perf_counter_ns()
        decode(values, True)
        reps.append((time.perf_counter_ns() - t0) / len(values))
    raw = spark.read.parquet(batch_dir)
    validated = safe_from_avro_arrow(raw, "value", gen.AVRO_SCHEMA)

    def timed_noop(df, name):
        reps = []
        for i in range(3):
            group = f"iso-{name}-{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            with ctx.tracer.span(name, group=group):
                df.write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        return median(reps)

    # the fold's input is materialized first so fold_s excludes decode
    valid = (
        validated.filter(F.col("err").isNull())
        .select("ok", F.col("ok.business_key").alias("__k"), F.col("ok.seq").alias("__o"))
        .localCheckpoint(eager=True)
    )
    out = {
        "avro_vec.decode_ns_per_row": median(reps),
        "validated.decode_s": timed_noop(validated, "validated.decode"),
        "delta.fold_s": timed_noop(
            delta_dedup_fold(valid, ["__k"], ["__o"], _is_updated()), "delta.fold"
        ),
    }
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return out


# --- stream_monitors --------------------------------------------------

WATCH = ["item1", "item7", "item42", "item99", "item500"]
MONITOR_SCHEMAS = {
    "cms": "item string",
    "kmv": "g string, v long",
    "vocab": "src string, text string",
}


def _monitor_starter(kind: str, chk: str, write):
    from maston_spark.streaming import topology as T

    def start(stream):
        if kind == "cms":
            return T.cms_watchlist_topology(
                stream, item_col="item", watch=WATCH, depth=3, width=1024,
                checkpoint=chk, write_metrics=write,
            )
        if kind == "kmv":
            return T.sketch_metrics_topology(
                stream, group_col="g", value_col="v", k=256,
                checkpoint=chk, write_metrics=write,
            )
        return T.vocab_saturation_topology(
            stream, group_col="src", text_col="text",
            checkpoint=chk, write_metrics=write,
        )

    return start


def _rows_equal(a: list, b: list) -> bool:
    def same(x, y):
        if isinstance(x, float) and isinstance(y, float):
            return abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
        return x == y

    return len(a) == len(b) and all(
        len(r) == len(s) and all(same(x, y) for x, y in zip(r, s))
        for r, s in zip(a, b)
    )


def run_monitors(ctx, cache_dir: str):
    """cms_watchlist, kmv sketch and vocab_saturation, one after the
    other, each through warm-up, timed and (traced run) traced batches.
    A "monitor batch" is one batch of each. Check: each topology's
    last emission equals the emission of the same topology run once
    over all of its rows in a single batch (the sketches merge
    exactly)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_timed = _n_timed(ctx.seconds, "monitors")
    phs, layers_by_kind = {}, {}
    warm_s = 0.0
    for kind in MONITOR_SCHEMAS:
        batch_dirs = [
            os.path.join(cache_dir, kind, f"b{i}") for i in range(1 + 2 * n_timed)
        ]
        chk = os.path.join(ctx.work, kind, "chk")
        emitted: dict[int, list] = {}
        sinks = SinkTimer(ctx)
        tracker = StateTracker(os.path.join(chk, f"{kind}_state"))

        def write(df, batch_id, emitted=emitted, sinks=sinks, tracker=tracker):
            sinks.collect(df, emitted, batch_id)
            sinks.close(batch_id)
            if ctx.tracer.on:
                tracker.snap(batch_id)

        ph = drive(ctx, kind, _monitor_starter(kind, chk, write), batch_dirs,
                   MONITOR_SCHEMAS[kind], n_timed, on_traced=lambda t=tracker: t.snap(-1))
        phs[kind] = ph
        warm_s += ph.warm_s
        done = sorted(ph.progress)
        for b in done:
            ctx.op_result(ph.ok[ph.phase_of(b)], f"{kind} batch {b}")

        # one pass over every row the stream saw
        one_dir = os.path.join(ctx.work, f"{kind}_all", "b0")
        os.makedirs(one_dir)
        pq.write_table(
            pa.concat_tables(pq.read_table(batch_dirs[b]) for b in done),
            os.path.join(one_dir, "part-00000.parquet"),
        )
        one: dict[int, list] = {}
        one_sinks = SinkTimer(ctx)

        def write_one(df, batch_id, one=one, one_sinks=one_sinks):
            one_sinks.collect(df, one, batch_id)
            one_sinks.close(batch_id)

        one_chk = os.path.join(ctx.work, f"{kind}_all", "chk")
        one_ph = drive(ctx, f"{kind}_all", _monitor_starter(kind, one_chk, write_one),
                       [one_dir], MONITOR_SCHEMAS[kind], 0)
        ok = one_ph.ok["warmup"] and _rows_equal(emitted.get(done[-1], []), one.get(0, []))
        ctx.op_result(ok, f"{kind}: last emission differs from the one-pass sketch")
        if ctx.traced:
            layers_by_kind[kind] = _stream_layers(
                ctx, ph.q, ph.progress, ph.ids["traced"], sinks, tracker
            )

    e2e = _e2e(ctx, list(phs.values()), warm_s)
    layers = {}
    if ctx.traced:
        # each layer metric is a per-batch median per topology; a
        # monitor batch runs all three, so they add up
        for kind_layers in layers_by_kind.values():
            for k, v in kind_layers.items():
                layers[k] = layers.get(k, 0.0) + v
        layers.update(_overhead(list(phs.values())))
    return e2e, layers
