"""spark-submit entrypoint: full tiling pipeline over an image corpus.

Usage (cluster shape, north rule):
  python osmquadtree_rust_bindings_spark/session.py  # builds engine zip
  spark-submit --py-files /tmp/osmquadtree_rust_bindings_spark-pyfiles.zip \
      jobs/run_pipeline.py --input <images parquet> --workdir <dir> \
      [--run-id R] [--target 40000]

Local sandbox: python jobs/run_pipeline.py --n 100000 generates the corpus
first.  Resumable: re-invoking with the same --workdir/--run-id skips
completed stages (checkpoint.Lineage).
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
    ap.add_argument("--input", default=None)
    ap.add_argument("--n", type=int, default=100_000)
    ap.add_argument("--workdir", default="/tmp/osmqt_pipeline")
    ap.add_argument("--run-id", default="default")
    ap.add_argument("--target", type=int, default=40_000)
    ap.add_argument("--master", default=None)
    ap.add_argument("--no-bytes", action="store_true",
                    help="generate the corpus without image payloads "
                         "(tiling never reads them; 100x smaller)")
    args = ap.parse_args()

    from osmquadtree_rust_bindings_spark.session import get_spark
    from osmquadtree_rust_bindings_spark.plans.pipeline import TilingPipeline
    from osmquadtree_rust_bindings_spark.sources import images as I

    spark = get_spark(args.master, app_name="osmqt-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    if args.input:
        images = spark.read.parquet(args.input)
    else:
        path = os.path.join(args.workdir, "images")
        if not os.path.exists(path):
            I.generate_images(spark, args.n,
                              with_bytes=not args.no_bytes) \
                .write.mode("overwrite").parquet(path)
        images = spark.read.parquet(path)

    t0 = time.time()
    pipe = TilingPipeline(spark, args.workdir, run_id=args.run_id,
                          group_target=args.target)
    out = pipe.run(images)
    rows = out["tiled"].count()
    print(json.dumps({
        "rows": rows,
        "tiles": out["tileplan"].count(),
        "wall_sec": round(time.time() - t0, 2),
        "stages": [{k: r[k] for k in ("stage", "output_rows", "t_start",
                                      "t_end")}
                   for r in pipe.lineage.summary()],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
