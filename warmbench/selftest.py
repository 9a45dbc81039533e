"""Self-test of the benchmark.

    python3 warmbench/selftest.py

1. Self-time and attribution arithmetic on a hand-built span tree and a
   hand-built event log.
2. Every workload at the tiny size (4,000 rows, one steady iteration),
   untraced and traced: the last output line carries every metric that
   BENCHMARK.json names, with its unit, and the outputs check out.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spans  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def close(a: float, b: float) -> bool:
    return abs(a - b) < 1e-9


def test_self_time() -> None:
    root = spans.Span("iteration", 0.0, end=10.0)
    a = spans.Span("a", 1.0, root, end=4.0)
    spans.Span("b", 3.0, root, end=6.0)       # overlaps a
    spans.Span("c", 8.0, root, end=9.0)
    spans.Span("a.x", 1.5, a, end=2.0)
    spans.Span("a.y", 1.8, a, end=3.0)        # overlaps a.x
    check(close(spans.covered([(1, 4), (3, 6), (8, 9)], 0, 10), 6.0),
          "union of overlapping intervals")
    check(close(spans.covered([(-5, 2), (9, 20)], 0, 10), 3.0),
          "intervals clipped to the span")
    check(close(root.self_time, 4.0), "root self time = 10 - 6")
    check(close(a.self_time, 1.5), "a self time = 3 - 1.5")
    total_self = sum(s.self_time for s in root.walk())
    check(total_self >= root.wall - 1e-9,
          "self times cover the root's wall time")


def test_attribution() -> None:
    root = spans.Span("iteration", 100.0, end=110.0)
    join = spans.Span("spatial_join.pip_small", 101.0, root, end=105.0)
    join.group = "g-join"
    root.group = "g-root"
    plan = {"nodeName": "HashAggregate", "metrics": [], "children": [
        {"nodeName": "BroadcastHashJoin", "children": [
            {"nodeName": "BroadcastHashJoin", "children": [],
             "metrics": [{"name": "number of output rows",
                          "accumulatorId": 7}]},
            {"nodeName": "BroadcastExchange", "children": [],
             "metrics": [{"name": "time to build", "accumulatorId": 9}]}],
         "metrics": [{"name": "number of output rows",
                      "accumulatorId": 8}]}]}
    ev = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": ev + "SparkListenerSQLExecutionStart", "executionId": 0,
         "time": 101500, "sparkPlanInfo": plan},
        # job 0 carries the span's group; job 1 carries a foreign group
        # and is placed by its submission time
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 102000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g-join"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 104000},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 106000, "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "someone-else"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1,
         "Completion Time": 107000},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 102000, "Finish Time": 103000,
                       "Accumulables": [
                           {"ID": 7, "Name": "number of output rows",
                            "Update": "40"},
                           {"ID": 8, "Name": "number of output rows",
                            "Update": "30"},
                           {"ID": 3, "Name": "time to run Python workers",
                            "Update": "500"}]},
         "Task Metrics": {"Executor Run Time": 900,
                          "Executor CPU Time": 800_000_000,
                          "JVM GC Time": 10,
                          "Shuffle Write Metrics": {
                              "Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 106000, "Finish Time": 106500,
                       "Accumulables": []},
         "Task Metrics": {"Executor Run Time": 400}},
        {"Event": ev + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[9, 250]]},
    ]
    spans.attribute(events, [root], cores=4)
    d = join.spark
    check(d["jobs"] == 1 and d["tasks"] == 1, "job placed by its group")
    check(d["candidates"] == 40, "candidates from the deepest join only")
    check(close(d["broadcast_s"], 0.25), "broadcast time from driver")
    check(close(d["worker_run_s"], 0.5), "python run time in seconds")
    check(close(d["executor_cpu_s"], 0.8), "executor cpu ns -> s")
    check(close(d["driver_gap_s"], 2.0), "span gap = 4 s - 2 s of job")
    check(root.spark["jobs"] == 1, "foreign-group job placed by time")
    up = spans.rollup(root, cores=4)
    check(up["jobs"] == 2 and up["tasks"] == 2, "rollup sums the subtree")
    check(close(up["driver_gap_s"], 7.0), "iteration gap = 10 - 3 s")
    check(close(up["cores_busy_frac"], 1.5 / 40), "busy = task s / 4 cores")


def test_tiny_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "1", "--trace", str(trace),
                                     "--tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=180)
            check(p.returncode == 0, f"{cmd} exit {p.returncode}: "
                                     f"{p.stderr[-2000:]}")
            lines = p.stdout.strip().splitlines()
            report, out = json.loads(lines[-2]), json.loads(lines[-1])
            check(set(out) == {"correct", "attempted", "failed", "metrics"},
                  "result keys")
            check(out["correct"] and out["failed"] == 0
                  and out["attempted"] >= 1,
                  f"{w['name']} outputs: {report['failures']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(got == want, f"{w['name']} trace {trace}: metrics/units "
                               f"differ: {set(got) ^ set(want)}")
            check(all(isinstance(v["value"], (int, float))
                      for v in out["metrics"].values()), "numeric values")
            check(report["tmp_left_bytes"] == 0, "nothing left in /tmp")
            print(f"ok {w['name']} trace {trace}")


if __name__ == "__main__":
    test_self_time()
    test_attribution()
    print("ok span arithmetic")
    test_tiny_runs()
    print("selftest passed")
