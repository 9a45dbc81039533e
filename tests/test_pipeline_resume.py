"""T3: checkpointed pipeline — lineage records, kill-and-resume semantics."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark.checkpoint import Lineage
from osmquadtree_rust_bindings_spark.operators import tiling as T
from osmquadtree_rust_bindings_spark.plans.pipeline import TilingPipeline
from osmquadtree_rust_bindings_spark.sources import images as I

N = 2000


@pytest.fixture(scope="module")
def images(spark):
    return spark.createDataFrame(
        I.make_images_pdf(0, N, with_bytes=False)).cache()


def test_pipeline_end_to_end(spark, images, tmp_path):
    wd = str(tmp_path / "run1")
    pipe = TilingPipeline(spark, wd, run_id="r1", group_target=400)
    out = pipe.run(images)
    assert out["tiled"].count() == N
    assert out["counts"].agg(F.sum("num")).collect()[0][0] == N
    # lineage: 4 complete stages + per-partition rows
    recs = pipe.lineage.records()
    stages = [r for r in recs if r.get("status") == "complete"]
    assert [s["stage"] for s in stages] == \
        ["calcqts", "tileplan", "tiled", "counts"]
    parts = [r for r in recs if r.get("status") == "partition"]
    assert all(p["bytes"] > 0 and p["rows"] > 0 for p in parts)
    for st in stages:
        rows = [p["rows"] for p in parts if p["stage"] == st["stage"]]
        assert sum(rows) == st["output_rows"]
        assert len(rows) == st["num_partitions"]
        if st["stage"] in ("calcqts", "tiled"):
            assert st["output_rows"] == N
    # counts: one file, sorted by tile
    cdir = pipe.lineage.stage_path("counts")
    files = [f for f in os.listdir(cdir) if f.endswith(".parquet")]
    assert len(files) == 1
    tiles = pd.read_parquet(os.path.join(cdir, files[0]))["tile"]
    assert tiles.is_monotonic_increasing and tiles.is_unique


def test_pipeline_resume_skips_completed(spark, images, tmp_path):
    wd = str(tmp_path / "run2")
    pipe = TilingPipeline(spark, wd, run_id="r2", group_target=400)
    # simulate a killed job: run only the first stage via the same lineage
    from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
    pipe.lineage.run_stage(spark, "calcqts",
                           lambda: CQ.run_calcqts(images.drop("bytes")))
    mtime = os.path.getmtime(pipe.lineage.stage_path("calcqts"))
    files = sorted(os.listdir(pipe.lineage.stage_path("calcqts")))

    # resume: full pipeline with the same run_id must NOT recompute calcqts
    pipe2 = TilingPipeline(spark, wd, run_id="r2", group_target=400)
    out = pipe2.run(images)
    assert out["tiled"].count() == N
    assert sorted(os.listdir(pipe2.lineage.stage_path("calcqts"))) == files
    assert os.path.getmtime(pipe2.lineage.stage_path("calcqts")) == mtime
    # exactly one 'complete' record per stage across both attempts
    stages = [r["stage"] for r in pipe2.lineage.records()
              if r.get("status") == "complete"]
    assert sorted(stages) == ["calcqts", "counts", "tiled", "tileplan"]


def _sorted_pdf(df):
    return df.toPandas().sort_values("image_id").reset_index(drop=True)


def test_resume_after_tileplan_rebuilds_cells(spark, images, tmp_path,
                                              monkeypatch):
    calls = []
    prepare = T.prepare_quadtree_tree

    def counted(*a, **kw):
        calls.append(a)
        return prepare(*a, **kw)

    monkeypatch.setattr(T, "prepare_quadtree_tree", counted)
    fresh = TilingPipeline(spark, str(tmp_path / "fresh"), run_id="f",
                           group_target=400).run(images)
    # one histogram per build: tiled reuses tileplan's cell frame
    assert len(calls) == 1

    wd = str(tmp_path / "run5")
    pipe = TilingPipeline(spark, wd, run_id="r5", group_target=400)
    pipe.run(images)
    # simulate a kill after tileplan: drop the later stages' records
    recs = [r for r in pipe.lineage.records()
            if r["stage"] in ("calcqts", "tileplan")]
    with open(pipe.lineage.path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in recs)
    plan_mtime = os.path.getmtime(pipe.lineage.stage_path("tileplan"))
    del calls[:]
    out = TilingPipeline(spark, wd, run_id="r5", group_target=400).run(images)
    # tileplan skipped, so tiled rebuilds the cells at the persisted depth
    assert len(calls) == 1
    assert os.path.getmtime(pipe.lineage.stage_path("tileplan")) == plan_mtime
    want, got = _sorted_pdf(fresh["tiled"]), _sorted_pdf(out["tiled"])
    assert len(got) == N
    pd.testing.assert_frame_equal(got[want.columns], want)


def test_half_written_stage_is_rerun(spark, images, tmp_path):
    wd = str(tmp_path / "run3")
    pipe = TilingPipeline(spark, wd, run_id="r3", group_target=400)
    # fake a crash: lineage says running (never completed), output dir exists
    os.makedirs(pipe.lineage.stage_path("calcqts"), exist_ok=True)
    with open(pipe.lineage.path, "w") as f:
        f.write(json.dumps({"run_id": "r3", "stage": "calcqts",
                            "status": "running", "t_start": 0}) + "\n")
    assert not pipe.lineage.stage_complete("calcqts")
    out = pipe.run(images)
    assert out["tiled"].count() == N
    assert pipe.lineage.stage_complete("calcqts")


def test_different_run_id_recomputes(spark, images, tmp_path):
    wd = str(tmp_path / "run4")
    TilingPipeline(spark, wd, run_id="a", group_target=400).run(images)
    lin_b = Lineage(wd, run_id="b")
    assert not lin_b.stage_complete("calcqts")


def test_lineage_skips_empty_files(spark, tmp_path):
    lin = Lineage(str(tmp_path / "lin"), run_id="e")
    lin.run_stage(spark, "empty", lambda: spark.range(0))
    (rec,) = lin.summary()
    # the one schema-only file counts in bytes but not as a partition
    assert rec["output_rows"] == 0 and rec["num_partitions"] == 0
    assert rec["output_bytes"] > 0
    assert not [r for r in lin.records() if r["status"] == "partition"]
