"""Spans recorded around the benchmark's calls into each engine layer.

A span has a name, start, end, parent and trace id; spans of one
operation (an ingest cycle, a dashboard request, a query pass) share a
trace id. Spans stay in memory and are written out once, at the end.

Tracing is sampled per operation: in a traced run, every other operation
is traced and the rest run bare, so the run itself shows what tracing
costs (``overhead``). An untraced run records nothing at all.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.on = True
        return self._local.stack

    @contextmanager
    def sampled(self, op_index: int):
        """Trace the operation only when ``op_index`` is even."""
        self._stack()
        previous = self._local.on
        self._local.on = self.enabled and op_index % 2 == 0
        try:
            yield self._local.on
        finally:
            self._local.on = previous

    @property
    def on(self) -> bool:
        self._stack()
        return self.enabled and self._local.on

    @contextmanager
    def span(self, name: str, count_tasks: bool = False):
        """Record one span; with ``count_tasks`` also the Spark tasks its
        jobs ran and failed, read from a job group of its own."""
        if not self.on:
            yield {}
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        span_id = next(self._ids)
        rec = {
            "id": span_id,
            "parent": parent["id"] if parent else None,
            "trace": parent["trace"] if parent else span_id,
            "name": name,
        }
        group = f"perfbench-{span_id}"
        if count_tasks:
            self._sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if count_tasks:
                rec["tasks"], rec["failed_tasks"] = self.tasks_of_group(group)
            with self._lock:
                self.spans.append(rec)

    def tasks_of_group(self, group: str) -> tuple[int, int]:
        tracker = self._sc.statusTracker()
        tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                if stage:
                    tasks += stage.numTasks
                    failed += stage.numFailedTasks
        return tasks, failed

    # -- reading the spans back ---------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str, scale: float = 1.0) -> float:
        values = self.durations(name)
        return statistics.median(values) * scale if values else 0.0

    def failed_tasks(self) -> int:
        return sum(s.get("failed_tasks", 0) for s in self.spans)

    def dump(self, path: str) -> None:
        """Write every span, with its self time (duration minus the part
        of it that its children cover), as JSON lines."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                covered, reach = 0.0, s["start"]
                for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                    lo, hi = max(c["start"], reach), min(c["end"], s["end"])
                    if hi > lo:
                        covered += hi - lo
                        reach = hi
                out = dict(s, self_s=(s["end"] - s["start"]) - covered)
                fh.write(json.dumps(out) + "\n")


def overhead(traced: list[float], bare: list[float]) -> float:
    """Share by which the traced operations' median exceeds the bare ones'."""
    if not traced or not bare:
        return 0.0
    return statistics.median(traced) / statistics.median(bare) - 1.0


def quantile(sorted_values: list[float], q: float) -> float:
    """Linear-interpolated quantile of an ascending list."""
    if not sorted_values:
        return 0.0
    pos = q * (len(sorted_values) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(sorted_values) - 1)
    return sorted_values[lo] + (sorted_values[hi] - sorted_values[lo]) * (pos - lo)
