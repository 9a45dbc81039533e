"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the host's
CPU count).

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "rows_per_sec": ...,
   "steady_*": <repeat pass>, "best_*": <per-query min across passes>,
   "passes": [{kind, total, ambient:{user/system/idle/iowait/steal %,
   gc_ms, quiet}}, ...], "quiet_*": <first pass with steal<1% and
   system<10% — the round-over-round comparable headline; null if no
   pass within the retry budget qualified>}

Each query is forced end-to-end with a noop sink (count() alone would let
Catalyst prune the computed columns).  rows_per_sec is the BASELINE.md
metric numerator: tile assignments + join output rows per second.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# per-operator names kept stable across rounds for comparability — some
# are merged gates in queries() now, so bench resolves them from
# driver_queries directly (q_<name>), falling back to the gate registry.
# Two names therefore differ from their CORRECTNESS gate keys on purpose:
#   ann_l2_topk  -> gate ann_brute_topk (gate merged L2+cosine; bench
#                   times the per-operator q_ann_l2_topk)
#   text_quality -> gate text_analysis (gate merged quality+langid+
#                   fingerprint+tokens; bench times q_text_quality)
HEADLINE = [
    "x1_point_qt",          # tile assignments (calc_qts point keys)
    "x2_bbox_qt_depth_hist",  # bbox calc_qts
    "s14_tile_counts",      # tiling aggregation
    "j11_bbox_join",        # spatial joins (join rows)
    "j9_pip_join",
    "j10_knn_join",         # one plan, DataFrame queries (README rule 17)
    "j12_raster_vector",
    "j1_semi_join_cascade",
    "j6_diff_summary",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_l2_topk",
    "ann_ivf_topk",
    "text_quality",
]
# queries whose output rows count toward the assignments+join-rows metric
METRIC_ROWS = {"x1_point_qt", "j11_bbox_join", "j9_pip_join",
               "j10_knn_join", "j12_raster_vector", "j1_semi_join_cascade"}


def force(df, need_rows: bool) -> int:
    """Force one full evaluation; row count only where the metric needs it
    (count() via a cheap agg on the already-executing plan, not a re-run)."""
    if need_rows:
        return df.count()
    df.write.format("noop").mode("overwrite").save()
    return 0


# ---- ambient telemetry (BENCH/BASELINE.md "Ambient noise characterization",
# VERDICT r04 item 1): every measured pass is bracketed by /proc/stat and
# JVM-GC snapshots so the committed JSON carries the evidence needed to
# adjudicate round-over-round deltas.  A pass is QUIET when host steal <1%
# and kernel-side system time <10% of all jiffies during the pass — the
# two counters that flagged every observed stall regime (futex pileups:
# sys ~90%; host co-tenancy: steal 3-7%).  The uniform-multiplier regime
# (guest fully idle yet uniformly slow) is by definition invisible to
# guest counters, so `quiet` certifies "no MEASURABLE interference", and
# cross-window comparison still goes through the per-query best_* series.

_STAT_FIELDS = ("user", "nice", "system", "idle", "iowait",
                "irq", "softirq", "steal")


def read_proc_stat() -> dict[str, int] | None:
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return dict(zip(_STAT_FIELDS, map(int, parts[1:9])))
    except (OSError, ValueError):
        return None


def gc_millis(spark) -> int | None:
    """Cumulative stop-the-world GC time of the driver+executor JVM (one
    process in local mode) via the public java.lang.management beans."""
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime()
                   for b in mf.getGarbageCollectorMXBeans())
    except Exception:
        return None


def ambient_delta(before, after, gc0, gc1, wall: float) -> dict:
    out: dict = {"gc_ms": None if gc0 is None or gc1 is None else gc1 - gc0,
                 "gc_pct_of_wall": None}
    if out["gc_ms"] is not None and wall > 0:
        out["gc_pct_of_wall"] = round(100.0 * out["gc_ms"] / (wall * 1000), 2)
    if before is None or after is None:
        out.update({k: None for k in
                    ("user_pct", "system_pct", "idle_pct", "iowait_pct",
                     "steal_pct")})
        out["quiet"] = False
        return out
    d = {k: after[k] - before[k] for k in _STAT_FIELDS}
    tot = sum(d.values()) or 1
    out["user_pct"] = round(100.0 * (d["user"] + d["nice"]) / tot, 2)
    out["system_pct"] = round(
        100.0 * (d["system"] + d["irq"] + d["softirq"]) / tot, 2)
    out["idle_pct"] = round(100.0 * d["idle"] / tot, 2)
    out["iowait_pct"] = round(100.0 * d["iowait"] / tot, 2)
    out["steal_pct"] = round(100.0 * d["steal"] / tot, 2)
    out["quiet"] = out["steal_pct"] < 1.0 and out["system_pct"] < 10.0
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from osmquadtree_rust_bindings_spark.session import (
        default_cpus, get_spark)
    import __spark_entry__ as entrymod

    cpus = default_cpus()

    spark = get_spark(f"local[{cpus}]", app_name="osmquadtree-bench",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    from osmquadtree_rust_bindings_spark import driver_queries as DQ
    from osmquadtree_rust_bindings_spark.session import ensure_shipped

    ensure_shipped(spark)
    gate_qs = entrymod.queries()
    # r04: the j11/j9 gates merged in their batch twins (small+batch
    # union, both driver-verified) — bench keeps timing the SMALL form
    # alone so these series stay comparable across rounds
    overrides = {"j11_bbox_join": DQ.q_j11_bbox_small,
                 "j9_pip_join": DQ.q_j9_pip_small}
    qs = {name: overrides.get(name) or getattr(DQ, f"q_{name}", None)
          or gate_qs[name] for name in HEADLINE}

    # warmup at the smallest sf: JIT, python workers, broadcast machinery.
    # Every headline query runs once at sf0.001 so the measured pass below
    # reflects steady-state throughput (the number that extrapolates to a
    # long-running cluster job), not one-time plan/codegen/worker costs.
    for name in HEADLINE:
        qs[name](spark, "/root/testdata/sf0.001").write \
            .format("noop").mode("overwrite").save()

    def run_pass(count_rows: bool) -> tuple[dict[str, float], float, int, dict]:
        """One full measured suite pass bracketed by ambient snapshots."""
        st0, g0 = read_proc_stat(), gc_millis(spark)
        timings: dict[str, float] = {}
        rows = 0
        t_all = time.time()
        for name in HEADLINE:
            t0 = time.time()
            n = force(qs[name](spark, sf_dir),
                      count_rows and name in METRIC_ROWS)
            timings[name] = round(time.time() - t0, 3)
            rows += n
        wall = round(time.time() - t_all, 3)
        amb = ambient_delta(st0, read_proc_stat(), g0, gc_millis(spark), wall)
        return timings, wall, rows, amb

    passes: list[dict] = []

    per_query, total, metric_rows, amb1 = run_pass(count_rows=True)
    passes.append({"kind": "first", "total": total, "ambient": amb1})

    # Second measured pass: single-shot numbers on this box vary +-25%
    # with ambient load and first-at-this-sf plan/broadcast costs (the
    # sf0.001 warmup warms code paths, not sf-specific state).  `value`
    # stays the FIRST pass so the series is methodology-comparable with
    # earlier rounds; `steady_*` report the repeat, the number that
    # extrapolates to a long-running cluster job.
    spark.catalog.clearCache()  # no first-pass cache reuse: the repeat
    # must pay the same materializations the first pass did
    steady, steady_total, _, amb2 = run_pass(count_rows=False)
    passes.append({"kind": "steady", "total": steady_total, "ambient": amb2})

    # Third measured pass + per-query minima: this round's box shows
    # intermittent multi-second kernel-side stalls (vmstat sys ~90% with
    # 3-7% steal, threads piled in futex_do_wait — host lock-holder
    # preemption amplified through the 32-thread JVM; GC log exonerated:
    # max pause 32ms during a 27s stall) on identical code and outputs.
    # `best_*` = per-query min across ALL measured passes — the noise
    # floor that tracks CODE, not ambient, and the right series to read
    # when first/steady disagree by >2x (see BENCH/BASELINE.md
    # "Ambient noise characterization").
    spark.catalog.clearCache()
    third, third_total, _, amb3 = run_pass(count_rows=False)
    passes.append({"kind": "third", "total": third_total, "ambient": amb3})

    # Quiet-certified headline (VERDICT r04 item 1): keep re-running the
    # suite (bounded) until one FULL pass satisfies the quiet predicate;
    # that pass's total is the round-over-round comparable number, with
    # its ambient counters committed next to it as the certificate.
    # Pass 1 is excluded from candidacy: it pays first-at-this-sf plan/
    # broadcast costs, so only steady-state passes (2+) are comparable
    # with the steady series of earlier rounds.
    all_timings = [per_query, steady, third]
    quiet_idx = next((i for i, p in enumerate(passes)
                      if i > 0 and p["ambient"]["quiet"]), None)
    MAX_EXTRA = 3
    while quiet_idx is None and len(passes) < 3 + MAX_EXTRA:
        spark.catalog.clearCache()
        tq, tt, _, amb = run_pass(count_rows=False)
        all_timings.append(tq)
        passes.append({"kind": "extra", "total": tt, "ambient": amb})
        if amb["quiet"]:
            quiet_idx = len(passes) - 1

    best = {name: min(t[name] for t in all_timings) for name in HEADLINE}
    best_total = round(sum(best.values()), 3)
    quiet = None if quiet_idx is None else {
        "pass": quiet_idx + 1,
        "total": passes[quiet_idx]["total"],
        "queries": all_timings[quiet_idx],
        "ambient": passes[quiet_idx]["ambient"],
    }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline suite wall time (tile assignment + spatial "
                  "joins + dedup + ann) at sf",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "rows_per_sec": round(metric_rows / total, 1),
        "metric_rows": metric_rows,
        "cpus": cpus,
        "steady_value": steady_total,
        "steady_queries": steady,
        "steady_rows_per_sec": round(metric_rows / steady_total, 1),
        "best_value": best_total,
        "best_queries": best,
        "best_rows_per_sec": round(metric_rows / best_total, 1),
        # per-pass ambient certificates + the quiet-certified headline
        # (null quiet_* = no pass within the retry budget was free of
        # measurable host interference; read best_* instead)
        "passes": passes,
        "quiet_certified": quiet is not None,
        "quiet_value": None if quiet is None else quiet["total"],
        "quiet_queries": None if quiet is None else quiet["queries"],
        "quiet_pass": None if quiet is None else quiet["pass"],
        "quiet_ambient": None if quiet is None else quiet["ambient"],
        "quiet_rows_per_sec": None if quiet is None
        else round(metric_rows / quiet["total"], 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
