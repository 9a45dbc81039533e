"""The benchmark's workloads.  Each one is set up once per run and then
iterated; an iteration returns one fingerprint per operation.

tile_build  the write path: TilingPipeline.run (calcqts -> tileplan ->
            tiled -> counts) into a fresh checkpoint workdir.
join        the read path: bbox_join / pip_join / knn_join over the keyed
            corpus, with 100 queries of each kind (the small forms) and
            2,000 of each kind (the batch forms) in every iteration, so
            both sides of the 1,000-query dispatch threshold run.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark import kernels as K
from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
from osmquadtree_rust_bindings_spark.operators import spatial_join as SJ
from osmquadtree_rust_bindings_spark.operators import tiling as T
from osmquadtree_rust_bindings_spark.plans.pipeline import TilingPipeline
from osmquadtree_rust_bindings_spark.sources import fixtures as FX

ROWS = 25_000
TINY_ROWS = 4_000
# Scaled with the corpus so 50,000 rows plan into a few dozen tiles, as
# the reference's 40,000 default does for corpora ~20x larger.
GROUP_TARGET = 1_000
SMALL_QUERIES = 100
# Above the 1,000-query dispatch threshold of all three joins.
BATCH_QUERIES = 1_500
TINY_BATCH_QUERIES = 1_000
TILING_FNS = ("choose_plan_depth", "prepare_quadtree_tree",
              "find_tree_groups")
JOIN_OPS = tuple(f"{kind}_{form}" for form in ("small", "batch")
                 for kind in ("bbox", "pip", "knn"))


def fingerprint(df: DataFrame) -> list[int]:
    """Order-independent: row count plus the sums of the low and high
    32-bit halves of each row's xxhash64 (sums that cannot overflow)."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    row = df.agg(F.count(F.lit(1)),
                 F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
                 F.sum(F.shiftrightunsigned(h, 32))).collect()[0]
    return [int(v or 0) for v in row]


class TileBuild:
    name = "tile_build"
    ops = ("tile_build",)
    # untimed iterations after the cold one (README.md, "Steadiness")
    warmups = 2

    def __init__(self, spark, corpus: DataFrame, seed: int, workdir: str,
                 tracer, tiny: bool = False):
        self.spark, self.corpus = spark, corpus
        self.workdir, self.tracer = workdir, tracer
        self.summary: list[dict] = []
        self._orig = {fn: getattr(T, fn) for fn in TILING_FNS}
        for fn in TILING_FNS:
            setattr(T, fn, tracer.wrap(f"tiling.{fn}", self._orig[fn]))

    def close(self) -> None:
        for fn, orig in self._orig.items():
            setattr(T, fn, orig)

    def iteration(self, it: int) -> dict[str, list[int]]:
        wd = os.path.join(self.workdir, f"tile-{it}")
        try:
            pipe = TilingPipeline(self.spark, wd, group_target=GROUP_TARGET)
            run_stage = pipe.lineage.run_stage

            def traced_stage(spark, stage, fn, *a, **kw):
                with self.tracer.span(f"checkpoint.{stage}"):
                    return run_stage(spark, stage, fn, *a, **kw)

            pipe.lineage.run_stage = traced_stage
            out = pipe.run(self.corpus)
            with self.tracer.span("bench.check"):
                fp = (fingerprint(out["tiled"].select("image_id", "qt",
                                                      "tile"))
                      + fingerprint(out["counts"]))
            self.summary = pipe.lineage.summary()
        finally:
            shutil.rmtree(wd, ignore_errors=True)
        return {"tile_build": fp}


class Join:
    name = "join"
    ops = JOIN_OPS
    warmups = 2

    def __init__(self, spark, corpus: DataFrame, seed: int, workdir: str,
                 tracer, tiny: bool = False):
        self.tracer = tracer
        self.corpus = corpus
        nbatch = TINY_BATCH_QUERIES if tiny else BATCH_QUERIES
        self.queries = {
            form: {"bbox": FX.make_bbox_queries_pdf(n, seed),
                   "pip": FX.make_polygons_pdf(n, seed),
                   "knn": FX.make_knn_queries_pdf(n, seed)}
            for form, n in (("small", SMALL_QUERIES), ("batch", nbatch))}
        self.joins = {"bbox": SJ.bbox_join, "pip": SJ.pip_join,
                    "knn": SJ.knn_join}

    def close(self) -> None:
        pass

    def points(self) -> DataFrame:
        return CQ.run_calcqts(self.corpus)

    def iteration(self, it: int) -> dict[str, list[int]]:
        with self.tracer.span("calcqts.run_calcqts"):
            pts = self.points()
        out = {}
        for op in JOIN_OPS:
            kind, form = op.split("_")
            with self.tracer.span(f"spatial_join.{op}"):
                out[op] = fingerprint(
                    self.joins[kind](pts, self.queries[form][kind]))
        return out

    def brute_force(self) -> dict[str, bool]:
        """bbox and PIP small forms against a numpy evaluation over every
        point (closed box intervals; strict polygon interior)."""
        pts = self.points()
        p = pts.select("image_id", "lon", "lat").toPandas()
        lon = p["lon"].to_numpy(np.int64)
        lat = p["lat"].to_numpy(np.int64)
        ids = p["image_id"].to_numpy()
        boxes = self.queries["small"]["bbox"]
        want_bbox = set()
        for b in boxes.itertuples(index=False):
            hit = ((lon >= b.minlon) & (lon <= b.maxlon)
                   & (lat >= b.minlat) & (lat <= b.maxlat))
            want_bbox.update((int(b.qid), i) for i in ids[hit])
        polys = self.queries["small"]["pip"]
        want_pip = set()
        for poly in polys.itertuples(index=False):
            inside = K.points_in_polygon(
                lon.astype(np.float64), lat.astype(np.float64),
                np.asarray(poly.verts_lon, np.float64),
                np.asarray(poly.verts_lat, np.float64))
            want_pip.update((poly.poly_id, i) for i in ids[inside])
        got_bbox = {(int(r.qid), r.image_id) for r in
                    SJ.bbox_join(pts, boxes).toPandas().itertuples()}
        got_pip = {(r.poly_id, r.image_id) for r in
                   SJ.pip_join(pts, polys).toPandas().itertuples()}
        return {"bbox_small_bruteforce": got_bbox == want_bbox,
                "pip_small_bruteforce": got_pip == want_pip}


WORKLOADS = {"tile_build": TileBuild, "join": Join}
