"""Spans around the benchmark's calls into each filters_spark layer.

A span records name, start, end, parent span and run id, and is kept in
memory until :meth:`Tracer.write` at exit. Spark jobs are attributed to
spans through job groups: each span sets its own group on the calling
thread (PySpark pins Python threads to JVM threads, so the group follows
the thread). Jobs the engine submits from its own worker threads carry
no group; those that appear while a main-thread span is open are
attributed to it. Self time and self jobs are what a span holds minus
what its child spans hold.

A disabled tracer records nothing and touches no Spark state, so the
untraced run measures the program alone.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it — the 11th largest sample. With ten or fewer
    samples no percentile qualifies and the maximum is returned as the
    100th percentile."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
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


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()

    def rebind(self, spark) -> None:
        """Follow a restarted SparkContext (the scaling leg)."""
        self.sc = spark.sparkContext

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _ungrouped(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        main = threading.current_thread() is threading.main_thread()
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": parent["id"] if parent else None,
            "thread": threading.current_thread().name,
            "group": f"{self.run_id}-{sid}", "attrs": attrs,
        }
        before = self._ungrouped() if main else None
        self.sc.setJobGroup(rec["group"], name)
        stack.append(rec)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            stack.pop()
            rec["ungrouped"] = sorted(self._ungrouped() - before) if main else []
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def attribute_jobs(self) -> None:
        """Resolve job and task counts per span; call while the
        SparkContext that ran the jobs is still alive."""
        st = self.sc.statusTracker()
        tasks_of_stage: dict[int, int] = {}

        def tasks(job: int) -> int:
            info = st.getJobInfo(job)
            if info is None:
                return 0
            n = 0
            for s in info.stageIds:
                if s not in tasks_of_stage:
                    si = st.getStageInfo(s)
                    tasks_of_stage[s] = si.numCompletedTasks if si else 0
                n += tasks_of_stage[s]
            return n

        task_of: dict[int, int] = {}
        for rec in self.spans:
            if "jobs" in rec:  # resolved before a context restart
                continue
            rec["own_jobs"] = set(st.getJobIdsForGroup(rec["group"])) | set(rec["ungrouped"])
            for j in rec["own_jobs"]:
                if j not in task_of:
                    task_of[j] = tasks(j)
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)

        def inclusive(rec) -> set[int]:
            if "_incl" not in rec:
                jobs = set(rec["own_jobs"])
                for c in children.get(rec["id"], []):
                    jobs |= inclusive(c)
                rec["_incl"] = jobs
            return rec["_incl"]

        pending = [r for r in self.spans if "jobs" not in r]
        for rec in pending:
            kids = children.get(rec["id"], [])
            incl = inclusive(rec)
            mine = incl - set().union(*(inclusive(c) for c in kids))
            rec["jobs"] = len(incl)
            rec["tasks"] = sum(task_of.get(j, 0) for j in incl)
            rec["self_jobs"] = len(mine)
            rec["self_tasks"] = sum(task_of.get(j, 0) for j in mine)
            rec["self_s"] = (rec["end"] - rec["start"]) - _covered(
                [(c["start"], c["end"]) for c in kids], rec["start"], rec["end"]
            )
        for rec in pending:
            del rec["_incl"], rec["own_jobs"]

    def named(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["name"] == name]

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds, self jobs and
        self tasks."""
        out: dict[str, dict] = {}
        for r in self.spans:
            s = out.setdefault(r["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0,
                                           "jobs": 0, "tasks": 0})
            s["count"] += 1
            s["total_s"] += r["end"] - r["start"]
            s["self_s"] += r["self_s"]
            s["jobs"] += r["self_jobs"]
            s["tasks"] += r["self_tasks"]
        return out

    def layer_self_s(self, layer: str) -> float:
        return sum(r.get("self_s", 0.0) for r in self.spans
                   if r["name"].split(".", 1)[0] == layer)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for r in sorted(self.spans, key=lambda r: r["id"]):
                keep = {k: v for k, v in r.items() if k != "ungrouped"}
                f.write(json.dumps(keep, default=str) + "\n")
