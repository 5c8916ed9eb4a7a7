"""Batch workloads: one pass = every query of the workload once, each
written to the no-op sink (as ``bench.py`` does).

The first pass is the warm-up: its results are collected and checked
against the DuckDB oracles with ``tools/check_correctness.compare``
(untimed). Timed passes follow until ``--seconds`` have elapsed (at
least one); ``pipeline_s`` is the median pass. Each query runs under
its own job group, so a traced run can read its Spark counters.
"""

from __future__ import annotations

import gc
import importlib.util
import os
import threading
import time

import gen
from common import ROOT, log, median

OP_TIMEOUT_S = 120.0

# query -> owning engine module (where its dominant operator lives)
SQL = {
    "q01_pricing_summary": "relational",
    "q03_join_inner": "relational",
    "q11_join_range": "relational",
    "q12_asof_join": "relational",
    "q20_window_rank": "relational",
    "q79_market_share": "relational",
    "q140_waiting_supplier": "relational",
    "q244_bloom_pruned_join": "relational",
}
LLM = {
    "q41_dedup_minhash_lsh": "llm.dedup",
    "q48_embedding_neardup": "llm.similarity",
    "q153_ivf_pq": "llm.similarity",
    "q45_text_stats": "llm.text",
    "q120_weighted_sample": "llm.sampling",
    "q273_assortativity": "graph",
    "q264_bh_fdr": "evaluation",
}
# input rows one execution of the query reads (for records_per_s)
_ROWS = {
    "region": 5, "nation": 25, "customer": gen.N_CUSTOMER,
    "supplier": gen.N_SUPPLIER, "orders": gen.N_ORDERS,
    "lineitem": gen.N_LINEITEM, "events": gen.N_EVENTS,
    "documents": gen.N_DOCS, "embeddings": gen.N_VECS,
}
READS = {
    "q01_pricing_summary": ["lineitem"],
    "q03_join_inner": ["customer", "orders"],
    "q11_join_range": ["orders", "lineitem"],
    "q12_asof_join": ["events"],
    "q20_window_rank": ["orders"],
    "q79_market_share": ["region", "nation", "customer", "supplier", "orders", "lineitem"],
    "q140_waiting_supplier": ["supplier", "orders", "lineitem"],
    "q244_bloom_pruned_join": ["orders", "lineitem"],
    **{q: ["documents"] for q in LLM},
    "q273_assortativity": ["lineitem"],
    "q48_embedding_neardup": ["embeddings"],
    "q153_ivf_pq": ["embeddings"],
}


def queries_of(workload: str) -> dict[str, str]:
    return SQL if workload == "batch_sql" else LLM


def prepare(ctx):
    return gen.tables_dir(ctx.cache, ctx.seed)


def _compare():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def _oracle_check(ctx, sf_dir: str, results: dict) -> None:
    """Every warm-up result against its DuckDB oracle; one op each."""
    import duckdb

    from maston_spark.queries import all_oracles

    compare, oracles = _compare(), all_oracles()
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(ctx.work, 'duckdb')}'")
    con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
    for t in gen.TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for name, got in results.items():
        if got is None:
            ctx.op_result(False, f"{name}: warm-up run failed")
            continue
        issues = compare(name, got, con.execute(oracles[name]).df())
        ctx.op_result(not issues, f"{name}: {' | '.join(issues)}")
    con.close()


class _Runner:
    def __init__(self, ctx, sf_dir: str):
        from maston_spark.queries import all_queries

        self.ctx = ctx
        self.sf_dir = sf_dir
        self.qs = all_queries()
        self.sc = ctx.spark.sparkContext
        self.n = 0

    def run(self, name: str, collect: bool, phase: str):
        """One query under its own job group, with a timeout that
        cancels the group. Returns (wall_s, pandas result or None, group);
        wall is None when the query raised or timed out."""
        spark = self.ctx.spark
        spark.catalog.clearCache()
        gc.collect()
        self.n += 1
        group = f"{phase}-{self.n}-{name}"
        self.sc.setJobGroup(group, name)
        timer = threading.Timer(OP_TIMEOUT_S, self.sc.cancelJobGroup, [group])
        timer.start()
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span(f"q.{name}", group=group, phase=phase):
                df = self.qs[name](spark, self.sf_dir)
                if collect:
                    out = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    out = None
            return time.perf_counter() - t0, out, group
        except Exception as exc:  # noqa: BLE001 — counted as a failed op
            log(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None, None, group
        finally:
            timer.cancel()
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def timed_pass(self, names, phase: str) -> dict:
        walls = {}
        for name in names:
            wall, _, group = self.run(name, False, phase)
            self.ctx.op_result(wall is not None, f"{name}: timed run failed")
            walls[name] = (wall or 0.0, group)
        return walls


def run(ctx, sf_dir: str):
    mods = queries_of(ctx.args.workload)
    names = list(mods)
    r = _Runner(ctx, sf_dir)

    ctx.tracer.on = ctx.traced
    t0 = time.perf_counter()
    results = {}
    for name in names:
        wall, out, _ = r.run(name, True, "warmup")
        results[name] = out if wall is not None else None
    setup_s = ctx.session_s + time.perf_counter() - t0
    log(f"session {ctx.session_s:.1f} s, warm-up pass {setup_s - ctx.session_s:.1f} s")
    t0 = time.perf_counter()
    _oracle_check(ctx, sf_dir, results)
    log(f"oracle checks {time.perf_counter() - t0:.1f} s")

    ctx.tracer.on = False
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < ctx.seconds:
        passes.append(r.timed_pass(names, "timed"))
    pass_s = [sum(w for w, _ in p.values()) for p in passes]
    log("timed passes " + ", ".join(f"{x:.2f}" for x in pass_s) + " s")
    rows = sum(_ROWS[t] for q in names for t in READS[q])
    e2e = {
        "setup_s": setup_s,
        "pipeline_s": median(pass_s),
        # a batch job here is one pass over the workload's queries
        "batch_s_p50": median(pass_s),
        "records_per_s": rows / median(pass_s),
    }
    layers = {}
    if ctx.traced:
        ctx.tracer.on = True
        traced = [r.timed_pass(names, "traced") for _ in passes]
        ctx.tracer.on = False
        layers = _layers(ctx, mods, traced)
        traced_s = median([sum(w for w, _ in p.values()) for p in traced])
        layers["trace.overhead_frac"] = traced_s / median(pass_s) - 1.0
    return e2e, layers


def _layers(ctx, mods: dict, traced: list[dict]) -> dict:
    """Per-module sums and per-query walls of the median traced pass."""
    from attribution import METRIC_NAMES, driver_gap_s

    attr = ctx.tracer.attr
    pass_s = [sum(w for w, _ in p.values()) for p in traced]
    p = traced[pass_s.index(sorted(pass_s)[(len(pass_s) - 1) // 2])]
    out = {f"{m}.{k}": 0.0 for m in dict.fromkeys(mods.values()) for k in MOD_FIELDS}
    total = {k: 0.0 for k in METRIC_NAMES}
    for name, (wall, group) in p.items():
        st = attr.job_stats(attr.jobs_in_group(group))
        st["driver_gap_s"] = driver_gap_s(wall, st)
        st["wall_s"] = wall
        for k in METRIC_NAMES:
            total[k] += st[k]
        for k in MOD_FIELDS:
            out[f"{mods[name]}.{k}"] += st[k]
        out[f"q.{name}_s"] = median([q[name][0] for q in traced])
    for k, name in METRIC_NAMES.items():
        out[name] = total[k]
    return out


MOD_FIELDS = ("wall_s", "tasks", "cpu_s", "offcpu_s", "driver_gap_s",
               "shuffle_bytes", "python_bytes")
