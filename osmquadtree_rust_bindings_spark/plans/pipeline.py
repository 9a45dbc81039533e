"""Staged, checkpoint-resumable pipeline orchestrator.

The full reference lifecycle (SURVEY.md §3) as named, independently
resumable stages:

  calcqts   run_calcqts: lon/lat + bbox/point qt + coarse cell
  tileplan  prepare_quadtree_tree + find_tree_groups (driver-side plan,
            persisted as a tiny parquet so resume reuses the exact plan)
  tiled     assign_tiles: broadcast equi-join over tileplan's cell
            histogram (no shuffle, so nothing here to balance)
  counts    per-tile Count fingerprint (the pipeline checksum, §5.2)

Each stage goes through Lineage.run_stage: skipped when already complete
for the run_id, per-partition rows/bytes recorded, half-written outputs
re-run.  A killed job resumes mid-pipeline by re-invoking with the same
run_id and workdir.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from osmquadtree_rust_bindings_spark.checkpoint import Lineage
from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
from osmquadtree_rust_bindings_spark.operators import count as CNT
from osmquadtree_rust_bindings_spark.operators import tiling as T


class TilingPipeline:
    def __init__(self, spark: SparkSession, workdir: str,
                 run_id: str | None = None, group_target: int = T.GROUP_TARGET,
                 group_depth: int = 17):
        self.spark = spark
        self.lineage = Lineage(workdir, run_id)
        self.group_target = group_target
        self.group_depth = group_depth

    def run(self, images: DataFrame) -> dict[str, DataFrame]:
        spark = self.spark
        lin = self.lineage

        calc = lin.run_stage(
            spark, "calcqts",
            lambda: CQ.run_calcqts(
                images.drop("bytes") if "bytes" in images.columns
                else images))
        # tileplan's cell histogram, kept for tiled when planned in this run
        planned = []

        def plan() -> DataFrame:
            # distinct cells <= rows: a corpus within the bound takes the
            # exact group_depth histogram, larger ones the depth sketch
            depth = self.group_depth
            if lin.output_rows("calcqts") > T.PLAN_MAX_CELLS:
                depth = min(depth, T.choose_plan_depth(calc, "qt",
                                                       T.PLAN_MAX_CELLS))
            cells = T.prepare_quadtree_tree(calc, "qt", depth)
            planned.append(cells)
            groups = T.find_tree_groups(cells, target=self.group_target)
            # persist the planning depth with the plan so a resumed run
            # reuses the exact same assignment domain
            groups["plan_depth"] = depth
            return spark.createDataFrame(groups.astype(np.int64))

        plan_df = lin.run_stage(spark, "tileplan", plan)
        plan_pdf = plan_df.toPandas()
        groups_pdf = plan_pdf[["tile", "weight"]]
        plan_depth = int(plan_pdf["plan_depth"].iloc[0])

        def assign() -> DataFrame:
            # rebuilt only when tileplan was skipped on resume; assignment
            # is a broadcast equi-join (zero Python in the hot path)
            cells = (planned[0] if planned
                     else T.prepare_quadtree_tree(calc, "qt", plan_depth))
            return T.assign_tiles(calc, cells, groups_pdf, plan_depth)

        tiled = lin.run_stage(spark, "tiled", assign)
        # O(tiles) rows: a one-task sort, no range-partition sampling job
        counts = lin.run_stage(
            spark, "counts",
            lambda: CNT.count_fingerprint(
                tiled, group=["tile"], id_col="image_id")
            .coalesce(1).sortWithinPartitions("tile"))

        return {"calcqts": calc, "tileplan": plan_df,
                "tiled": tiled, "counts": counts}
