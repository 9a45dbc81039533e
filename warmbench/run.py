"""Warm-state benchmark of the tiling engine.

    python3 warmbench/run.py --workload tile_build --seed 42 --seconds 12 --trace 0

Run from the repository root.  Starts ``worker.py`` in a fresh process
with a work directory under ``.warmbench-work/`` (temporary files, Spark
local dirs, checkpoint workdirs and the traced run's event log all go
there), waits for it, stops every process it left, removes the work
directory and reports how many bytes the run left in /tmp.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The line before
it is the full run report.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "osmquadtree_rust_bindings_spark")
sys.path.insert(0, HERE)

import procs  # noqa: E402

WORKLOADS = ("tile_build", "join")
# a run must end within 180 s; leave time to stop the tree and clean up
WORKER_TIMEOUT_S = 165
# settings that would override the production session config
OVERRIDE_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS")


def tmp_files() -> dict[str, int]:
    """Size of every regular file under /tmp, by path."""
    out = {}
    for dirpath, _dirs, files in os.walk("/tmp"):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                out[path] = os.lstat(path).st_size
            except OSError:
                pass
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test size: 4,000 rows, one steady iteration")
    args = ap.parse_args()
    if not os.path.isdir(PACKAGE) or not os.path.isfile(
            os.path.join(ROOT, "bench.py")):
        print(f"warmbench: no package at {PACKAGE}", file=sys.stderr)
        return 2

    procs.become_subreaper()
    work = os.path.join(ROOT, ".warmbench-work",
                        f"{os.getpid()}-{time.time_ns()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    env = {k: v for k, v in os.environ.items() if k not in OVERRIDE_ENV}
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # keep the JVM's temp files (and its perf-data file, which HotSpot
        # always puts in /tmp) inside the work directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--workdir", work, "--out", out] + (["--tiny"] if args.tiny else [])
    before = tmp_files()
    result = None
    try:
        worker = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                                  stdin=subprocess.DEVNULL)
        try:
            rc = worker.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print("warmbench: worker timed out", file=sys.stderr)
            rc = None
        procs.stop_tree(grace_s=0 if rc is None else 10)
        if rc == 0 and os.path.exists(out):
            with open(out) as f:
                result = json.load(f)
    finally:
        procs.stop_tree(grace_s=0)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there
    if result is None:
        print(f"warmbench: worker failed (exit {rc})", file=sys.stderr)
        return 1
    after = tmp_files()
    result["report"]["tmp_left_bytes"] = sum(
        size for path, size in after.items() if path not in before)
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    print(json.dumps(result["report"]))
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
