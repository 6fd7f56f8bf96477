"""In-memory spans around calls into the program's modules.

A span records its name, start, end, parent span and operation id.
When tracing is on, each span also gets its own Spark job group, so
the status store can attribute jobs, stages and task metrics to it
(``sparkstats.StatusStore``). Spans stay in memory and are written out
once, when the run ends. With tracing off, ``span`` does nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession


class Tracer:
    def __init__(self, spark: SparkSession, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "op": op, "parent": parent,
            "group": f"perfbench-{sid}", "attrs": dict(attrs),
            "start": time.perf_counter() - self._t0, "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(p["group"], p["name"])

    # ------------------------------------------------------ reduction

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part covered by direct children."""
        kids = sum(self.duration(s) for s in self.spans if s["parent"] == rec["id"])
        return self.duration(rec) - kids

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def median_duration(self, name: str) -> float:
        recs = self.named(name)
        return statistics.median(self.duration(s) for s in recs) if recs else 0.0

    def subtree(self, rec: dict) -> list[dict]:
        out, frontier = [rec], [rec["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out.extend(kids)
            frontier = [s["id"] for s in kids]
        return out

    def attach_counters(self, by_group: dict[str, dict]) -> None:
        """Give every span its own group's counters (self counters)."""
        for s in self.spans:
            s["counters"] = by_group.get(s["group"], {})

    def subtree_counters(self, rec: dict) -> dict:
        tot: dict = {}
        for s in self.subtree(rec):
            for k, v in s.get("counters", {}).items():
                tot[k] = tot.get(k, 0) + v
        return tot

    def dump(self, path: str, extra: dict) -> None:
        spans = [{**s, "self_s": self.self_time(s)} for s in self.spans if s["end"] is not None]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1, default=str)
