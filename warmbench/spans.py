"""Spans recorded by the benchmark around calls into the package, and the
reduction of Spark's event log onto those spans.

A span has a name, a start, an end, a parent and children.  Its self time
is its duration minus the part of that interval its children cover.
Spark jobs are attributed to the innermost span: by job group where the
span set one, otherwise by submission time (the package's own
``job_progress`` sets its own group inside ``Lineage.run_stage``).
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


class Span:
    __slots__ = ("name", "start", "end", "parent", "children", "group",
                 "spark")

    def __init__(self, name: str, start: float, parent: "Span | None" = None,
                 end: float | None = None):
        self.name = name
        self.start = start
        self.end = end
        self.parent = parent
        self.children: list[Span] = []
        self.group: str | None = None
        self.spark: dict = {}
        if parent is not None:
            parent.children.append(self)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.wall - covered(
            [(c.start, c.end) for c in self.children], self.start, self.end)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    """Records a span tree and tags each span's Spark jobs with a job group
    of its own.  ``totals`` sums wall time per span name (the caller
    empties it)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.roots: list[Span] = []
        self.totals: dict[str, float] = {}
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent)
        if parent is None:
            self.roots.append(s)
        s.group = f"warmbench-{id(s)}-{time.time_ns()}"
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self.totals[name] = self.totals.get(name, 0.0) + s.wall
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced


class NullTracer:
    """Stand-in for untraced runs: no job groups and no span tree, only the
    wall time per span name (two clock reads per span)."""

    def __init__(self):
        self.totals: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield None
        finally:
            self.totals[name] = self.totals.get(name, 0.0) + time.time() - t0

    def wrap(self, name: str, fn):
        return fn


# ------------------------------------------------------------- event log

SPARK_KEYS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "broadcast_s", "task_s", "candidates")
PYTHON_METRICS = {
    "time to initialize Python workers": ("worker_init_s", 1e-3),
    "time to run Python workers": ("worker_run_s", 1e-3),
    "data sent to Python workers": ("bytes_sent", 1),
    "data returned from Python workers": ("bytes_returned", 1),
}
BROADCAST_METRICS = ("time to collect", "time to build", "time to broadcast")


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (rolling or single-file, uncompressed) logs under
    ``log_dir``, in order."""
    def part(path: str) -> tuple[str, int]:
        base = os.path.basename(path)
        num = base.split("_")[1] if base.startswith("events_") else "0"
        return (os.path.dirname(path), int(num) if num.isdigit() else 0)

    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(
                 (".", "appstatus"))]
    events = []
    for path in sorted(files, key=part):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _plan_nodes(info: dict, depth: int = 0):
    yield info, depth
    for c in info.get("children", []):
        yield from _plan_nodes(c, depth + 1)


def _cover_join_accs(info: dict) -> set[int]:
    """Output-row accumulators of the deepest join in one plan: the cover
    (cell) equi-join of every spatial join form; later joins only attach
    query or vertex columns to its filtered candidates."""
    joins = [(d, n) for n, d in _plan_nodes(info) if "Join" in n["nodeName"]]
    if not joins:
        return set()
    deepest = max(d for d, _ in joins)
    return {m["accumulatorId"] for d, n in joins if d == deepest
            for m in n["metrics"] if m["name"] == "number of output rows"}


def attribute(events: list[dict], roots: list[Span], cores: int) -> None:
    """Fill ``span.spark`` for every span with the Spark work attributed to
    it (its own, not its children's), plus ``job_intervals``."""
    spans = [s for r in roots for s in r.walk()]
    by_group = {s.group: s for s in spans if s.group is not None}

    def innermost(t: float) -> Span | None:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (
                    best is None or s.start >= best.start):
                best = s
        return best

    for s in spans:
        s.spark = {k: 0 for k in SPARK_KEYS}
        s.spark.update({v[0]: 0 for v in PYTHON_METRICS.values()})
        s.spark["job_intervals"] = []

    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    execs: dict[int, dict] = {}
    acc_total: dict[int, float] = {}
    tasks = []
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            t0 = e.get("Submission Time", 0) / 1000.0
            span = by_group.get(props.get("spark.jobGroup.id")) or innermost(t0)
            jobs[e["Job ID"]] = {"start": t0, "end": t0, "span": span}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e.get("Completion Time", 0) / 1000.0
        elif ev == "SparkListenerTaskEnd":
            tasks.append(e)
            for a in e["Task Info"].get("Accumulables", []):
                try:
                    acc_total[a["ID"]] = acc_total.get(a["ID"], 0) + float(
                        a["Update"])
                except (KeyError, TypeError, ValueError):
                    pass
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            execs[e["executionId"]] = {
                "span": innermost(e["time"] / 1000.0),
                "plans": [e["sparkPlanInfo"]], "driver": {}}
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in execs:
                execs[e["executionId"]]["plans"].append(e["sparkPlanInfo"])
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            ex = execs.get(e["executionId"])
            if ex is not None:
                for acc_id, val in e["accumUpdates"]:
                    ex["driver"][acc_id] = ex["driver"].get(acc_id, 0) + val

    for j in jobs.values():
        if j["span"] is not None:
            j["span"].spark["jobs"] += 1
            j["span"].spark["job_intervals"].append((j["start"], j["end"]))

    for t in tasks:
        jid = stage_job.get(t["Stage ID"])
        span = jobs[jid]["span"] if jid in jobs else None
        if span is None:
            continue
        info, m = t["Task Info"], t.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        d = span.spark
        d["tasks"] += 1
        d["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1000.0
        d["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        d["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        d["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        d["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        d["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                    + sr.get("Local Bytes Read", 0))
        d["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                             + m.get("Disk Bytes Spilled", 0))
        for a in info.get("Accumulables", []):
            key = PYTHON_METRICS.get(a.get("Name"))
            if key is not None:
                d[key[0]] += float(a["Update"]) * key[1]

    for ex in execs.values():
        span = ex["span"]
        if span is None:
            continue
        cover, bcast = set(), set()
        for plan in ex["plans"]:
            cover |= _cover_join_accs(plan)
            bcast |= {m["accumulatorId"] for n, _ in _plan_nodes(plan)
                      if n["nodeName"] == "BroadcastExchange"
                      for m in n["metrics"] if m["name"] in BROADCAST_METRICS}
        span.spark["candidates"] += sum(acc_total.get(a, 0) for a in cover)
        span.spark["broadcast_s"] += sum(
            ex["driver"].get(a, 0) for a in bcast) / 1000.0

    for s in spans:
        d = s.spark
        d["driver_gap_s"] = s.wall - covered(
            [(c.start, c.end) for c in s.children] + d["job_intervals"],
            s.start, s.end)
        d["cores_busy_frac"] = d["task_s"] / (s.wall * cores) if s.wall else 0


def rollup(span: Span, cores: int) -> dict:
    """Spark figures for ``span`` and everything under it.  The driver gap
    is the part of the span's wall time no job of the subtree covers."""
    below = list(span.walk())
    out = {k: sum(s.spark.get(k, 0) for s in below)
           for k in (*SPARK_KEYS, *(v[0] for v in PYTHON_METRICS.values()))}
    intervals = [iv for s in below for iv in s.spark.get("job_intervals", [])]
    out["driver_gap_s"] = span.wall - covered(intervals, span.start, span.end)
    out["cores_busy_frac"] = (out["task_s"] / (span.wall * cores)
                              if span.wall else 0.0)
    return out
