"""T2/T3: calc_qts over the image table + tiling engine vs pandas oracle."""

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark import kernels as K
from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
from osmquadtree_rust_bindings_spark.operators import tiling as T
from osmquadtree_rust_bindings_spark.sources import images as I

N = 3000


@pytest.fixture(scope="module")
def images_pdf():
    return I.make_images_pdf(0, N, with_bytes=False)


@pytest.fixture(scope="module")
def oracle(images_pdf):
    """Pure-numpy oracle: lon/lat, qt (bbox), qt_point, qt17."""
    ph = images_pdf.phash.to_numpy(np.int64)
    lon, lat = K.phash_lonlat(ph)
    w = images_pdf.w.to_numpy(np.int64)
    h = images_pdf.h.to_numpy(np.int64)
    qt = K.calcqts_point_bbox(lon, lat, w, h)
    qtp = K.calcqts_point(lon, lat, 18)
    return pd.DataFrame({
        "image_id": images_pdf.image_id,
        "lon": lon, "lat": lat, "qt": qt, "qt_point": qtp,
        "qt17": K.qt_round(qt, 17),
    })


@pytest.fixture(scope="module")
def calc(spark, images_pdf):
    sdf = spark.createDataFrame(images_pdf)
    return CQ.run_calcqts(sdf).cache()


def test_run_calcqts_exact(calc, oracle):
    got = calc.select("image_id", "lon", "lat", "qt", "qt_point") \
        .toPandas().sort_values("image_id").reset_index(drop=True)
    exp = oracle.sort_values("image_id").reset_index(drop=True)
    assert (got.lon.values == exp.lon.values).all()
    assert (got.lat.values == exp.lat.values).all()
    assert (got.qt.values == exp.qt.values).all()
    assert (got.qt_point.values == exp.qt_point.values).all()


def test_cell_is_ancestor(calc):
    bad = calc.filter(
        ~((F.col("cell").bitwiseAND(F.lit(31)) == CQ.CELL_LEVEL)
          & (F.col("qt_point").bitwiseAND(F.lit(-(1 << (63 - 2 * 7))))
             == F.col("cell").bitwiseAND(F.lit(-(1 << (63 - 2 * 7))))))
    ).count()
    assert bad == 0


def test_qt_common_agg_matches_kernel(calc, oracle):
    got = (
        calc.groupBy(F.col("cell"))
        .agg(CQ.qt_common_agg(F.col("qt")).alias("lca"))
        .toPandas().sort_values("cell").reset_index(drop=True)
    )
    exp_rows = []
    for cell, grp in oracle.assign(
            cell=K.qt_round(oracle.qt_point.values, 7)).groupby("cell"):
        qts = grp.qt.to_numpy(np.int64)
        lca = qts[0]
        for q in qts[1:]:
            lca = K.qt_common(np.int64(lca), np.int64(q)).item()
        exp_rows.append((cell, lca))
    exp = pd.DataFrame(exp_rows, columns=["cell", "lca"]) \
        .sort_values("cell").reset_index(drop=True)
    assert (got.cell.values == exp.cell.values).all()
    assert (got.lca.values == exp.lca.values).all()


# ------------------------------------------------------------- grouping oracle

def _oracle_groups(cells: pd.DataFrame, target: int, min_target: int):
    """Independent recursive implementation of §8.5 over an explicit trie."""
    children: dict[int, list[int]] = {}
    own = dict(zip(cells.cell.astype(np.int64), cells.weight.astype(np.int64)))
    nodes = set([0])
    for c in cells.cell.to_numpy(np.int64):
        d = int(c) & 31
        prev = 0
        for nd in range(1, d + 1):
            a = int(K.qt_round(np.int64(c), nd))
            if a not in nodes:
                nodes.add(a)
                children.setdefault(prev, []).append(a)
            prev = a
    for k in children:
        children[k].sort()
    groups = []

    def walk(node):
        acc = int(own.get(node, 0))
        if acc >= min_target:
            groups.append((node, acc))
            acc = 0
        for ch in children.get(node, []):
            acc += walk(ch)
            if acc >= min_target:
                groups.append((node, acc))
                acc = 0
        return acc

    rest = walk(0)
    if rest > 0:
        groups.append((0, rest))
    # weights are authoritative only via longest-prefix reassignment
    roots = np.unique(np.array([g[0] for g in groups] + [0], dtype=np.int64))
    assigned = T.longest_prefix_assign(cells.cell.to_numpy(np.int64), roots)
    out = (pd.DataFrame({"tile": assigned,
                         "weight": cells.weight.to_numpy(np.int64)})
           .groupby("tile", as_index=False).weight.sum())
    zero = np.setdiff1d(roots, out.tile.to_numpy(np.int64))
    if len(zero):
        out = pd.concat([out, pd.DataFrame({"tile": zero, "weight": 0})],
                        ignore_index=True)
    return out.sort_values("tile").reset_index(drop=True)


def test_find_tree_groups_vs_oracle(spark, calc):
    cells = T.prepare_quadtree_tree(calc, "qt", maxdepth=17)
    assert cells.weight.sum() == N
    for target in (50, 400, 40_000):
        got = T.find_tree_groups(cells, target=target)
        exp = _oracle_groups(cells, target, target // 2)
        pd.testing.assert_frame_equal(got, exp)
        assert got.weight.sum() == N


def _run_pipeline(spark, images_pdf, tmp_path, monkeypatch):
    """Run the pipeline, returning its outputs and the cell frames its
    planner built and the depths the sketch was asked for."""
    from osmquadtree_rust_bindings_spark.plans.pipeline import TilingPipeline

    built, sketched = [], []
    prepare, sketch = T.prepare_quadtree_tree, T.choose_plan_depth

    def record_cells(*a, **kw):
        built.append(prepare(*a, **kw))
        return built[-1]

    def record_depth(*a, **kw):
        sketched.append(sketch(*a, **kw))
        return sketched[-1]

    monkeypatch.setattr(T, "prepare_quadtree_tree", record_cells)
    monkeypatch.setattr(T, "choose_plan_depth", record_depth)
    out = TilingPipeline(spark, str(tmp_path / "wd"), group_target=200
                         ).run(spark.createDataFrame(images_pdf))
    return out, built, sketched


def test_pipeline_plan_under_bound_matches_sketch_plan(spark, calc,
                                                      images_pdf, tmp_path,
                                                      monkeypatch):
    depth = min(17, T.choose_plan_depth(calc, "qt"))
    want = T.prepare_quadtree_tree(calc, "qt", depth)
    out, built, sketched = _run_pipeline(spark, images_pdf, tmp_path,
                                         monkeypatch)
    # N <= PLAN_MAX_CELLS: no sketch, one exact histogram
    assert sketched == []
    assert len(built) == 1
    pd.testing.assert_frame_equal(built[0], want)
    plan = out["tileplan"].toPandas().sort_values("tile")
    assert (plan.plan_depth == depth).all()
    exp = T.find_tree_groups(want, target=200)
    assert plan.tile.tolist() == exp.tile.tolist()
    assert plan.weight.tolist() == exp.weight.tolist()


def test_plan_over_bound_falls_back_to_sketch(spark, calc, images_pdf,
                                              tmp_path, monkeypatch):
    monkeypatch.setattr(T, "PLAN_MAX_CELLS", 10)
    depth = T.choose_plan_depth(calc, "qt", 10)
    assert depth < 17
    out, built, sketched = _run_pipeline(spark, images_pdf, tmp_path,
                                         monkeypatch)
    assert sketched == [depth]
    assert len(built) == 1 and len(built[0]) <= 10
    assert built[0].weight.sum() == N
    plan = out["tileplan"].toPandas()
    assert (plan.plan_depth == depth).all()
    tiled = out["tiled"]
    assert tiled.count() == N
    assert tiled.filter(F.col("tile").isNull()).count() == 0
    assert set(tiled.select("tile").distinct().toPandas().tile) <= \
        set(plan.tile)


def test_group_weights_bounded(calc):
    cells = T.prepare_quadtree_tree(calc, "qt", maxdepth=17)
    target = 200
    got = T.find_tree_groups(cells, target=target)
    # every group except possibly the root remainder >= min_target,
    # and bounded above by ~own+4*min_target unless a single cell is hot
    non_root = got[got.tile != 0]
    assert (non_root.weight >= target // 2).all()
    hot = int(cells.weight.max())
    assert got.weight.max() <= max(4 * (target // 2) + target, hot + target)


def test_assign_tiles_matches_longest_prefix(calc):
    cells = T.prepare_quadtree_tree(calc, "qt", maxdepth=17)
    groups = T.find_tree_groups(cells, target=200)
    tiled = T.assign_tiles(calc, cells, groups, 17) \
        .select("image_id", "qt", "tile").toPandas().sort_values("image_id")
    tree = T.QuadtreeTree()
    for t in groups.tile:
        tree.add(int(t), 0)
    exp = np.array([tree.find(int(q)) for q in tiled.qt], dtype=np.int64)
    assert (tiled.tile.values == exp).all()
    # every tile got some rows, weights match plan
    per_tile = tiled.groupby("tile").size()
    plan = groups.set_index("tile").weight
    assert per_tile.sum() == N
    got_w = per_tile.reindex(plan.index).fillna(0).astype(int)
    assert (got_w.values == plan.values).all()


def test_write_tiled_partition_layout(spark, calc, tmp_path):
    cells = T.prepare_quadtree_tree(calc, "qt", maxdepth=17)
    groups = T.find_tree_groups(cells, target=500)
    path = str(tmp_path / "tiled")
    T.write_tiled(calc.drop("bytes"), path, groups, cells, 17,
                  order_cols=("qt", "image_id"))
    back = spark.read.parquet(path)
    assert back.count() == N
    # partition column round-trips
    one = back.filter(F.col("tile") == int(groups.tile.iloc[1]))
    assert one.count() == int(groups.weight.iloc[1])
    # every file is sorted by the order columns
    files = glob.glob(os.path.join(path, "tile=*", "*.parquet"))
    assert files
    for f in files:
        pdf = pq.read_table(f, columns=["qt", "image_id"]).to_pandas()
        keys = list(zip(pdf.qt, pdf.image_id))
        assert keys == sorted(keys), f"{f} is not sorted by (qt, image_id)"


def test_rebalance_splits_hot_tile(spark, tmp_path):
    # all rows at one location -> one tile far over target; a small
    # advisory partition size makes AQE's rebalance split it over files
    pdf = I.make_images_pdf(0, 2000, with_bytes=False)
    pdf["phash"] = pdf.phash.iloc[0]  # same location for everyone
    # AQE splits a partition by map output, so the write needs several maps
    sdf = CQ.run_calcqts(spark.createDataFrame(pdf).repartition(4))
    cells = T.prepare_quadtree_tree(sdf, "qt", 17)
    groups = T.find_tree_groups(cells, target=400)
    hot = groups.loc[groups.weight.idxmax()]
    assert hot.weight > 400
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "16k")
    path = str(tmp_path / "hot")
    try:
        T.write_tiled(sdf, path, groups, cells, 17)
    finally:
        spark.conf.set(key, old)
    hot_files = glob.glob(os.path.join(path, f"tile={int(hot.tile)}",
                                       "*.parquet"))
    assert len(hot_files) >= 2
    assert spark.read.parquet(path).count() == 2000
