"""In-memory span tracer for the benchmark's traced runs.

A span records name, start, end, parent span and run id. Spans are opened
in the benchmark's own code around calls into the program's layers, kept
in a list, and written out once when the run ends. Each span also gets
its own Spark job group, so the jobs, stages and tasks launched while it
was the innermost open span are counted from ``SparkContext.statusTracker``
(outside the program) rather than from anything the program reports.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it its children cover, for
    every closed span."""
    closed = [s for s in spans if s["end"] is not None]
    children: dict[int, list[tuple[float, float]]] = {}
    for s in closed:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in closed
    }


class Tracer:
    """Collects spans; ``enabled=False`` makes ``span`` a no-op."""

    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, sid: int | None) -> str | None:
        return None if sid is None else f"{self.run_id}-{sid}"

    def _jobs(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for st in info.stageIds if info else ():
                stages += 1
                sinfo = tracker.getStageInfo(st)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), stages, tasks

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(self._group(sid), name)
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                rec["jobs"], rec["stages"], rec["tasks"] = self._jobs(self._group(sid))
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    self.sc.setJobGroup(self._group(parent), self.spans[parent]["name"])

    def attach(self, sc) -> None:
        """Start counting jobs once a SparkContext exists."""
        self.sc = sc if self.enabled else None

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def report(self) -> list[dict]:
        """Spans with their self time, ready to write out."""
        selfs = self_times(self.spans)
        return [{**s, "self": selfs[s["id"]]} for s in self.spans]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.report(), default=str))
