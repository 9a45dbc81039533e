"""Run any driver-contract query from the command line.

    python jobs/run_query.py j9_pip_join --sf-dir /root/testdata/sf0.01 \
        --out /tmp/pip_out --cpus 8

With --out the result is written as parquet; otherwise the first rows are
printed.  --list enumerates available queries.  Deployment shape per the
north rule: ``spark-submit --py-files $(python -c 'from
osmquadtree_rust_bindings_spark.session import build_pyfiles_zip;
print(build_pyfiles_zip())') jobs/run_query.py ...`` — the session builder
ships the same zip automatically in local mode.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query", nargs="?", help="queries() key")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, help="parquet output dir")
    ap.add_argument("--cpus", type=int, default=None,
                    help="task slots (default: session.default_cpus)")
    ap.add_argument("--show", type=int, default=10)
    ap.add_argument("--list", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.list or not args.query:
        for name in sorted(qs):
            print(name)
        return
    if args.query not in qs:
        sys.exit(f"unknown query {args.query!r}; use --list")

    from osmquadtree_rust_bindings_spark.session import (
        default_cpus, get_spark)

    cpus = args.cpus or default_cpus()
    spark = get_spark(f"local[{cpus}]", app_name=f"osmqt-query-{args.query}",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    df = qs[args.query](spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
    else:
        df.show(args.show, truncate=False)
        n = df.count()
    print(json.dumps({"query": args.query, "rows": n,
                      "wall_sec": round(time.time() - t0, 2),
                      "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    main()
