"""One benchmark run in a fresh process: set up, one timed cold iteration,
untimed warm-up iterations, then timed steady iterations for the given
number of seconds.  Writes its result as JSON to ``--out``.

Started by ``run.py``, which owns the work directory and the process
tree; see README.md for what each number means.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import procs  # noqa: E402
import spans as tr  # noqa: E402

END_TO_END = {"wall_s": "s", "cpu_s": "core-s", "cold_s": "s",
              "setup_s": "s"}
# the window runs for --seconds and at least this many iterations, so one
# slow iteration cannot set the median
MIN_STEADY = 3
PER_LAYER = {
    "peak_rss_mb": "MiB",
    "session.get_spark_s": "s",
    "sources.generate_images_s": "s",
    "sources.fixtures_s": "s",
    **{f"checkpoint.{st}.{m}": u
       for st in ("calcqts", "tileplan", "tiled", "counts")
       for m, u in (("s", "s"), ("rows", "count"), ("bytes", "bytes"),
                    ("files", "count"))},
    "stored_bytes_per_row": "bytes/row",
    "tiling.choose_plan_depth_s": "s",
    "tiling.prepare_quadtree_tree_s": "s",
    "tiling.prepare_quadtree_tree_calls": "count",
    "tiling.find_tree_groups_s": "s",
    **{f"spatial_join.{kind}_{form}.{m}": u
       for form in ("small", "batch") for kind in ("bbox", "pip", "knn")
       for m, u in (("s", "s"), ("rows", "count"), ("candidates", "count"),
                    ("keep_ratio", "ratio"))},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "task-s",
    "spark.executor_cpu_s": "task-s",
    "spark.gc_s": "task-s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.broadcast_s": "s",
    "spark.driver_gap_s": "s",
    "spark.cores_busy_frac": "ratio",
    "python.worker_init_s": "task-s",
    "python.worker_run_s": "task-s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "trace.wall_s": "s",
    "trace.unattributed_frac": "ratio",
}


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open(f"/proc/{os.getpid()}/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.time() - (uptime - start_ticks / procs.CLK_TCK)


def host_stamp(spark, seed: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    sha = None  # the checkout need not be a git repository
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=10,
                                 check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    digest = hashlib.sha256()
    for base in ("osmquadtree_rust_bindings_spark", "warmbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs.sort()
            for name in sorted(files):
                if name.endswith((".py", ".json")):
                    with open(os.path.join(dirpath, name), "rb") as f:
                        digest.update(f.read())
    import pyspark
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mib": mem_kib // 1024,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git_sha": sha,
        "source_sha256": digest.hexdigest(),
        "seed": seed,
    }


def layer_values(root: tr.Span, fps: dict, cores: int) -> dict:
    """Per-layer figures of one traced iteration."""
    v = {k: 0.0 for k in PER_LAYER}
    for s in root.walk():
        if s is root:
            continue
        if s.name.startswith("tiling."):
            v[f"{s.name}_s"] += s.wall
            if s.name == "tiling.prepare_quadtree_tree":
                v["tiling.prepare_quadtree_tree_calls"] += 1
        elif s.name.startswith(("checkpoint.", "spatial_join.")):
            v[f"{s.name}.s"] += s.wall
        if s.name.startswith("spatial_join."):
            rows = fps.get(s.name.split(".", 1)[1], [0])[0]
            cand = tr.rollup(s, cores)["candidates"]
            v[f"{s.name}.rows"] = rows
            v[f"{s.name}.candidates"] = cand
            v[f"{s.name}.keep_ratio"] = rows / cand if cand else 0.0
    spark = tr.rollup(root, cores)
    for k in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
              "broadcast_s", "driver_gap_s", "cores_busy_frac"):
        v[f"spark.{k}"] = spark[k]
    for k in ("worker_init_s", "worker_run_s", "bytes_sent",
              "bytes_returned"):
        v[f"python.{k}"] = spark[k]
    v["trace.wall_s"] = root.wall
    v["trace.unattributed_frac"] = root.self_time / root.wall
    return v


def span_report(root: tr.Span, cores: int) -> list[dict]:
    out = []
    for s in root.walk():
        d = {k: round(x, 4) if isinstance(x, float) else x
             for k, x in tr.rollup(s, cores).items()}
        d.update(name=s.name, wall_s=round(s.wall, 4),
                 self_s=round(s.self_time, 4),
                 self_driver_gap_s=round(s.spark.get("driver_gap_s", 0), 4))
        out.append(d)
    return out


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    import bench
    import workloads as W
    from osmquadtree_rust_bindings_spark.session import get_spark
    from osmquadtree_rust_bindings_spark.sources import images as IM

    cores = len(os.sched_getaffinity(0))
    rows = W.TINY_ROWS if args.tiny else W.ROWS
    evdir = os.path.join(args.workdir, "eventlog")
    conf = None
    if args.trace:
        os.makedirs(evdir)
        # zstandard is not installed, and Spark 4.1 compresses by default
        conf = {"spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false"}

    t = time.time()
    spark = get_spark(f"local[{cores}]", app_name="warmbench",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    setup = {"session.get_spark_s": time.time() - t}
    t = time.time()
    corpus_path = os.path.join(args.workdir, "corpus")
    IM.generate_images(spark, rows, num_partitions=cores, seed=args.seed,
                       with_bytes=False).write.parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    setup["sources.generate_images_s"] = time.time() - t
    tracer = tr.Tracer(spark) if args.trace else tr.NullTracer()
    t = time.time()
    wl = W.WORKLOADS[args.workload](spark, corpus, args.seed, args.workdir,
                                    tracer, tiny=args.tiny)
    setup["sources.fixtures_s"] = time.time() - t
    setup_s = time.time() - t_proc

    with open(os.path.join(HERE, "pinned.json")) as f:
        pinned = json.load(f)
    pins = (pinned["fingerprints"][wl.name]
            if args.seed == pinned["seed"] and not args.tiny else None)

    attempted = failed = 0
    failures: list[str] = []
    first: dict = {}
    iters: list[dict] = []

    def run_iteration(kind: str) -> None:
        nonlocal attempted, failed
        it = len(iters)
        c0, t0 = procs.tree_cpu_s(os.getpid()), time.time()
        with tracer.span("iteration") as root:
            try:
                fps = wl.iteration(it)
            except Exception:  # counted as failed operations, run goes on
                failures.append(f"iteration {it}: {traceback.format_exc()}")
                fps = {}
        wall = time.time() - t0
        cpu = procs.tree_cpu_s(os.getpid()) - c0
        for op in wl.ops:
            attempted += 1
            fp = fps.get(op)
            if fp is not None:
                first.setdefault(op, fp)
            bad = (fp is None or fp != first[op]
                   or (pins is not None and fp != pins.get(op)))
            if bad:
                failed += 1
                if fp is not None:
                    failures.append(f"iteration {it} {op}: {fp} vs first "
                                    f"{first[op]} pinned "
                                    f"{None if pins is None else pins.get(op)}")
        ops, tracer.totals = tracer.totals, {}
        iters.append({"kind": kind, "wall_s": wall, "cpu_s": cpu,
                      "fps": fps, "root": root, "ops": ops,
                      "hwm_mb": procs.tree_hwm_mb(os.getpid())})

    run_iteration("cold")
    for _ in range(0 if args.tiny else wl.warmups):
        run_iteration("warmup")
    first_steady = len(iters)
    st0, gc0 = bench.read_proc_stat(), bench.gc_millis(spark)
    t_win = time.time()
    min_steady = 1 if args.tiny else MIN_STEADY
    while True:
        run_iteration("steady")
        if (len(iters) - first_steady >= min_steady
                and time.time() - t_win >= args.seconds):
            break
    window = time.time() - t_win
    ambient = bench.ambient_delta(st0, bench.read_proc_stat(), gc0,
                                  bench.gc_millis(spark), window)

    checks = {}
    if hasattr(wl, "brute_force"):
        try:
            checks = wl.brute_force()
        except Exception:
            failures.append(f"brute force: {traceback.format_exc()}")
            checks = {"bruteforce": False}
        attempted += len(checks)
        failed += sum(not ok for ok in checks.values())
    stamp = host_stamp(spark, args.seed)
    hwm = [*(i["hwm_mb"] for i in iters), procs.tree_hwm_mb(os.getpid())]
    peak = max(sum(h.values()) for h in hwm)
    wl.close()
    spark.stop()

    steady = [i for i in iters if i["kind"] == "steady"]
    walls = [i["wall_s"] for i in steady]
    half = len(walls) // 2
    end_to_end = {
        "wall_s": statistics.median(walls),
        "cpu_s": statistics.median(i["cpu_s"] for i in steady),
        "cold_s": iters[0]["wall_s"],
        "setup_s": setup_s,
    }
    report = {
        "workload": wl.name, "rows": rows, "host": stamp,
        "setup": setup, "ambient_window": ambient,
        "window_s": window, "steady_iterations": len(steady),
        "trend_first_half_s": statistics.median(walls[:half]) if half else None,
        "trend_second_half_s": (statistics.median(walls[len(walls) - half:])
                                if half else None),
        "iterations": [{"kind": i["kind"], "wall_s": round(i["wall_s"], 4),
                        "cpu_s": round(i["cpu_s"], 3),
                        "rss_hwm_mb": round(sum(i["hwm_mb"].values())),
                        "spans_s": {k: round(v, 3) for k, v in i["ops"].items()}}
                       for i in iters],
        "peak_rss_mb": peak,
        "peak_rss_mb_by_process": max(hwm, key=lambda h: sum(h.values())),
        "fingerprints": first, "bruteforce": checks,
        "failed_frac": failed / attempted, "failures": failures,
    }

    per_layer = None
    if args.trace:
        events = tr.read_event_log(evdir)
        tr.attribute(events, [i["root"] for i in iters], cores)
        vals = [layer_values(i["root"], i["fps"], cores) for i in steady]
        per_layer = {k: statistics.median(v[k] for v in vals)
                     for k in PER_LAYER}
        per_layer.update(setup, peak_rss_mb=peak)
        for rec in getattr(wl, "summary", []):
            st = rec["stage"]
            per_layer[f"checkpoint.{st}.rows"] = rec["output_rows"]
            per_layer[f"checkpoint.{st}.bytes"] = rec["output_bytes"]
            per_layer[f"checkpoint.{st}.files"] = rec["num_partitions"]
        per_layer["stored_bytes_per_row"] = (
            sum(r["output_bytes"] for r in getattr(wl, "summary", []))
            / rows)
        report["spans"] = [span_report(i["root"], cores) for i in steady]
        report["unattributed_frac_max"] = max(
            v["trace.unattributed_frac"] for v in vals)

    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "end_to_end": {k: {"value": v, "unit": END_TO_END[k]}
                             for k, v in end_to_end.items()},
              "per_layer": None if per_layer is None else {
                  k: {"value": per_layer[k], "unit": PER_LAYER[k]}
                  for k in PER_LAYER},
              "report": report}
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
