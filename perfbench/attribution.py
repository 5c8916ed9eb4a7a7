"""Status-store attribution: what Spark did for one group of jobs.

Reads Spark's own bookkeeping through py4j — the job list of a job
group (``statusTracker``), each job's stages
(``statusStore().lastStageAttempt``; ``stageList`` is not callable
through py4j on Spark 4.1) and the SQL metrics of the SQL executions
that ran those jobs — and folds it into one flat dict. Works with
``spark.ui.enabled=false``.

Fields of :func:`job_stats`:

- ``jobs``, ``stages`` (run), ``stages_skipped``, ``tasks``
- ``run_s`` / ``cpu_s``: executor run time and CPU time; ``offcpu_s``
  is their difference (waiting on I/O, Python workers, locks)
- ``shuffle_bytes`` (read + written), ``spill_bytes`` (memory + disk)
- ``stage_s``: the union of the run stages' [submit, complete]
  intervals; ``driver_gap_s(wall, stats)`` = wall − ``stage_s``
- ``python_bytes``: data sent to plus returned from Python workers
- ``python_s``: time to run Python workers, summed over tasks
"""

from __future__ import annotations

import re

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL = re.compile(r"\n?([0-9.]+) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_PY_TIME = "time to run Python workers"


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, e.g.
    ``'total (min, med, max ...)\\n808.6 KiB (101.1 KiB, ...)'`` ->
    828006.4; a bare number parses as itself."""
    text = str(text)
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _TOTAL.match(text.strip())
    if m:
        return float(m.group(1)) * _UNITS[m.group(2)]
    try:
        return float(text.strip().split()[0])
    except (ValueError, IndexError):
        return 0.0


def union_seconds(intervals) -> float:
    """Length of the union of ``(start_ms, end_ms)`` intervals, in s."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


class Attribution:
    """Attribution over one SparkContext's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs_in_group(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def jobs_between(self, group: str, start_ms: float, end_ms: float) -> list[int]:
        """Jobs of ``group`` submitted within ``[start_ms, end_ms]``."""
        out = []
        for jid in self.jobs_in_group(group):
            sub = _opt_ms(self.store.job(jid).submissionTime())
            if sub is not None and start_ms <= sub <= end_ms:
                out.append(jid)
        return out

    def _python_metrics(self, job_ids: set[int]) -> tuple[float, float]:
        nbytes = secs = 0.0
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            ex = it.next()
            jobs = {int(j) for j in _scala_keys(ex.jobs())}
            if not jobs & job_ids:
                continue
            names = {}
            mi = ex.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                if m.name() in _PY_BYTES or m.name() == _PY_TIME:
                    names[m.accumulatorId()] = m.name()
            if not names:
                continue
            vals = self.sql.executionMetrics(ex.executionId())
            vi = vals.iterator()
            while vi.hasNext():
                kv = vi.next()
                name = names.get(kv._1())
                if name in _PY_BYTES:
                    nbytes += parse_metric(kv._2())
                elif name == _PY_TIME:
                    secs += parse_metric(kv._2())
        return nbytes, secs

    def job_stats(self, job_ids) -> dict:
        job_ids = sorted(set(job_ids))
        st = {
            "jobs": len(job_ids), "stages": 0, "stages_skipped": 0,
            "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0,
            "spill_bytes": 0,
        }
        seen, intervals = set(), []
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted from the store
                    continue
                if s.status().toString() == "SKIPPED":
                    st["stages_skipped"] += 1
                    continue
                st["stages"] += 1
                st["tasks"] += s.numTasks()
                st["run_s"] += s.executorRunTime() / 1e3
                st["cpu_s"] += s.executorCpuTime() / 1e9
                st["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                st["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                a, b = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
                if a is not None and b is not None:
                    intervals.append((a, b))
        st["offcpu_s"] = max(0.0, st["run_s"] - st["cpu_s"])
        st["stage_s"] = union_seconds(intervals)
        st["python_bytes"], st["python_s"] = self._python_metrics(set(job_ids))
        return st


# job_stats field -> reported per-layer metric name
METRIC_NAMES = {
    "jobs": "spark.jobs", "stages": "spark.stages",
    "stages_skipped": "spark.stages_skipped", "tasks": "spark.tasks",
    "cpu_s": "spark.cpu_s", "offcpu_s": "spark.offcpu_s",
    "shuffle_bytes": "spark.shuffle_bytes", "spill_bytes": "spark.spill_bytes",
    "driver_gap_s": "spark.driver_gap_s", "python_bytes": "python.bytes",
    "python_s": "python.worker_s",
}


def driver_gap_s(wall_s: float, stats: dict) -> float:
    """Wall time outside every stage: planning, driver-side collects
    and replays, scheduling between stages."""
    return max(0.0, wall_s - stats["stage_s"])


def _scala_keys(m):
    out, it = [], m.keys().iterator()
    while it.hasNext():
        out.append(it.next())
    return out
