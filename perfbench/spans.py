"""In-memory span tracer for the traced run.

A span records wall start/end, its parent and, optionally, the Spark
job group its jobs ran under. Spans are recorded only while ``on``
(the traced phase of a traced run) and stay in memory while the run
measures; :meth:`Tracer.resolve` reads the status store once at the
end (so no status-store reads land inside a timed span) and
:meth:`Tracer.dump` writes every span out. When tracing is off every
call is a no-op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from attribution import Attribution


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.attr = Attribution(spark) if enabled else None

    @contextmanager
    def span(self, name: str, group: str | None = None, **tags):
        if not self.on:
            yield None
            return
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "group": group,
            "start_ms": time.time() * 1e3,
            **tags,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["wall_s"] * 1e3
            self._stack.pop()

    def resolve(self) -> None:
        """Attach self time and Spark counters to every span."""
        child_s = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child_s[rec["parent"]] += rec["wall_s"]
        for i, rec in enumerate(self.spans):
            rec["self_s"] = max(0.0, rec["wall_s"] - child_s[i])
            if rec["group"] is not None and "spark" not in rec:
                rec["spark"] = self.attr.job_stats(self.attr.jobs_in_group(rec["group"]))

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for rec in self.spans:
            out[rec["name"]] = out.get(rec["name"], 0.0) + rec.get("self_s", 0.0)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)
