"""maston-spark benchmark: one workload, one run, one JSON line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload stream_delta_avro --seed 1 \
        --seconds 10 --trace 0

Workloads: ``stream_delta_avro``, ``stream_monitors``, ``batch_sql``,
``batch_llm`` (see ``perfbench/NOTES.md``). The run generates its
inputs from ``--seed`` (cached under ``.perfbench/cache``), starts one
``local[nproc]`` session through the engine's own ``build_session``,
warms up, measures for about ``--seconds``, checks the outputs
(untimed) and prints, as the last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same work with spans and Spark status-store attribution and reports
the per-layer metrics (spans go to ``.perfbench/traces/``). All
scratch files stay under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from common import HERE, ROOT, log

WORKLOADS = ("stream_delta_avro", "stream_monitors", "batch_sql", "batch_llm")

# name -> (unit, better) of every metric a gated workload reports;
# BENCHMARK.json lists the same names (perfbench/tests/test_benchmark_json.py)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "records_per_s": ("1/s", "higher"),
    "batch_s_p50": ("s", "lower"),
    "pipeline_s": ("s", "lower"),
}
_SUFFIX_UNITS = (
    ("_frac", "ratio"), ("_ratio", "ratio"), ("_ns_per_row", "ns"),
    ("_mb", "MB"), ("_s", "s"), ("bytes", "bytes"), ("bytes_written", "bytes"),
    ("bytes_live", "bytes"),
)


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name][0]
    for suffix, unit in _SUFFIX_UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric, in report order. A traced run reports
    all of them; a layer its workload does not reach reads 0."""
    from attribution import METRIC_NAMES
    from batch import LLM, MOD_FIELDS

    names = list(METRIC_NAMES.values()) + [
        "sources.get_batch_s", "streaming.plan_s", "streaming.commit_s",
        "streaming.add_batch_s", "sinks.emit_s", "topology.state_s",
        "topology.state_bytes_written", "topology.state_bytes_live",
        "topology.state_files", "validated.error_rows", "sinks.valid_rows",
        "delta.emit_ratio", "avro_vec.decode_ns_per_row", "validated.decode_s",
        "delta.fold_s",
    ]
    # the module split of the gated batch workload; batch_sql adds
    # relational.* on top
    names += [f"{m}.{k}" for m in dict.fromkeys(LLM.values()) for k in MOD_FIELDS]
    names += [f"q.{q}_s" for q in LLM]
    names += ["peak_rss_mb", "ops_failed_frac", "trace.overhead_frac"]
    higher = {"delta.emit_ratio", "spark.stages_skipped"}
    return {n: (unit_of(n), "higher" if n in higher else "lower") for n in names}


class Ctx:
    """Everything a workload needs: args, dirs, session, tracer, and
    the op ledger (an op is a query or a micro-batch)."""

    def __init__(self, args, work: str, cache: str):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.cache = cache
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.tracer = None
        self.session_s = 0.0

    def op_result(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            log(f"FAILED op: {what}")

    def start_session(self) -> None:
        from maston_spark.session import build_session
        from spans import Tracer

        t0 = time.perf_counter()
        self.spark = build_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.traced)


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Python driver plus the driver JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def _prepare_env(work: str) -> None:
    """Settings the session and its Python workers inherit; set before
    the JVM starts. Nothing here changes an engine setting."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Arrow-UDF workers import maston_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # keep JVM scratch (and its perf-data file) inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:  # noqa: BLE001
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "maston_spark")):
        log(f"no maston_spark package under {ROOT}: nothing to benchmark")
        return 2
    sys.path[:0] = [ROOT, HERE]

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    cache = os.path.join(base, "cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    if args.workload.startswith("stream_"):
        import stream as mod
    else:
        import batch as mod

    ctx = Ctx(args, work, cache)
    try:
        log(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
        inputs = mod.prepare(ctx)  # untimed: generation or cache hit
        ctx.start_session()
        metrics_e2e, metrics_layer = mod.run(ctx, inputs)
        metrics_layer["peak_rss_mb"] = peak_rss_mb(ctx.spark)
        if ctx.traced:
            ctx.tracer.resolve()
            for name, s in sorted(ctx.tracer.self_time_by_name().items()):
                log(f"span self time {name}: {s:.3f} s")
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            ctx.tracer.dump(
                os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json")
            )
        metrics_layer["ops_failed_frac"] = ctx.failed / max(1, ctx.attempted)
        if ctx.traced:
            chosen = {n: 0.0 for n in per_layer()}
            chosen.update(metrics_layer)
        else:
            chosen = metrics_e2e
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            k: {"value": float(v), "unit": unit_of(k)} for k, v in chosen.items()
        },
    }
    if ctx.failures:
        log("failures: " + "; ".join(ctx.failures))
    sys.stdout.flush()
    print(json.dumps(record), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
