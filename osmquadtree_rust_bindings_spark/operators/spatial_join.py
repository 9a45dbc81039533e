"""Spatial joins: bbox/range (J11), point-in-polygon (J9), kNN (J10),
raster-tile <-> vector-cell assignment (J12).

All four follow the same Spark-first shape (SURVEY.md §2.3): a coarse
"cover" equi-join on grid cells followed by an exact refine — the
standard cover+refine spatial join.  bbox and PIP share one candidate
plan: the query side's cover is exploded from its bounds in Column
algebra and joined on the point's cell (AQE picks broadcast or shuffle,
and splits a hot cell); the refine is a Column interval predicate (bbox)
plus, for PIP, one vectorized numpy ray-crossing pass.

Reference parity anchors:
- bbox contains point (closed intervals)   src/elements.rs:855-860
- Poly.contains_point / check_box          src/readpbf.rs:757-763
- idset spatial semi-join cascade          src/elements.rs:855-894 (J1)
- qt prefix algebra for cell assignment    src/elements.rs:38-40
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark import kernels as K
from osmquadtree_rust_bindings_spark.functions import quadtree as Q
from osmquadtree_rust_bindings_spark.functions import sqlgen

COVER_DEPTH = 8  # coarse cover-grid depth for polygon/bbox joins
_BOUNDS = ["minlon", "minlat", "maxlon", "maxlat"]


# --------------------------------------------------------------- cell cover
# A point and a box bound go through the SAME monotone JVM expression, so
# a point inside a closed box lands in a cell between the box's two corner
# cells: the cover is complete by construction.  The key
# (ix << COVER_DEPTH) | iy is dense in [0, 4^COVER_DEPTH), which keeps the
# broadcast hash map in its dense mode.

def _ix(lon: str) -> str:
    return sqlgen.grid_index(sqlgen.x_norm(lon), COVER_DEPTH)


def _iy(lat: str) -> str:
    # clamped at the mercator clip (+-85.06 deg), beyond which every
    # latitude already lands in the edge row: a bound past a pole would
    # make ln(tan) null and drop the box from the cover
    return sqlgen.grid_index(sqlgen.y_norm(
        f"least(greatest({lat}, -8.506e8), 8.506e8)"), COVER_DEPTH)


def _cover(frame: DataFrame, id_col: str) -> DataFrame:
    """(id, bounds, cell_cov) rows, one per cover cell each box touches."""
    keep = [id_col, *_BOUNDS]
    return (
        frame.selectExpr(
            *keep, f"explode(sequence({_ix('minlon')}, {_ix('maxlon')})) AS ix")
        .selectExpr(
            *keep, "ix",
            f"explode(sequence({_iy('minlat')}, {_iy('maxlat')})) AS iy")
        .selectExpr(*keep, f"shiftleft(ix, {COVER_DEPTH}) | iy AS cell_cov")
    )


def _candidates(points: DataFrame, frame: DataFrame, id_col: str,
                point_id: str) -> DataFrame:
    """(id, point_id, lon, lat) for every point in a box, closed intervals
    (reference bbox.contains_point / Poly.check_box)."""
    pts = points.withColumn("cell_cov", F.expr(
        f"shiftleft({_ix('lon')}, {COVER_DEPTH}) | {_iy('lat')}"))
    return (
        pts.join(_cover(frame, id_col), "cell_cov")
        .filter(
            (F.col("lon") >= F.col("minlon")) & (F.col("lon") <= F.col("maxlon"))
            & (F.col("lat") >= F.col("minlat")) & (F.col("lat") <= F.col("maxlat"))
        )
        .select(id_col, point_id, "lon", "lat")
    )


# --------------------------------------------------------------- J11 bbox

def bbox_join(points: DataFrame, boxes: pd.DataFrame | DataFrame,
              point_id: str = "image_id") -> DataFrame:
    """(qid, point_id) pairs where the point lies in the query box
    (closed intervals, reference bbox.contains_point semantics).

    ``boxes`` (qid + bounds) may be pandas or a DataFrame; either way it is
    one plan: Column cover, equi-join on the cover cell, Column interval
    refine.  Bounds keep their input types, so float bounds compare as
    doubles."""
    if isinstance(boxes, pd.DataFrame):
        boxes = points.sparkSession.createDataFrame(boxes[["qid", *_BOUNDS]])
    return _candidates(points, boxes, "qid", point_id).select("qid", point_id)


# --------------------------------------------------------------- J9 PIP

def pip_join(points: DataFrame, polygons: pd.DataFrame | DataFrame,
             point_id: str = "image_id") -> DataFrame:
    """(poly_id, point_id) pairs with the point strictly inside the polygon
    (shapely-``contains``-style boundary exclusion; reference
    Poly.contains_point, src/readpbf.rs:761-763).

    Candidates come from :func:`bbox_join`'s plan over the polygon bboxes
    (reference check_box); the exact refine is one vectorized
    ray-crossing pass per polygon inside each Arrow batch.  Where the
    vertices come from follows the input type:

    - pandas: they are already in driver memory, so they travel once per
      executor in a broadcast dict.  A large ring (a ``.poly`` region
      filter, sources/poly.py) is never copied per candidate.
    - DataFrame: a ``poly_id`` equi-join puts each polygon's vertex
      arrays on its candidate rows, so 10^6 geofences never touch the
      driver.  The ``polygons`` plan is scanned twice (cover + vertices);
      persist it first if it is expensive to compute.
    """
    spark = points.sparkSession
    bc = None
    if isinstance(polygons, pd.DataFrame):
        bc = spark.sparkContext.broadcast({
            r.poly_id: (np.asarray(r.verts_lon, np.float64),
                        np.asarray(r.verts_lat, np.float64))
            for r in polygons.itertuples(index=False)})
        polygons = spark.createDataFrame(polygons[["poly_id", *_BOUNDS]])
    cand = _candidates(points, polygons, "poly_id", point_id)
    if bc is None:
        cand = cand.join(
            polygons.select("poly_id", "verts_lon", "verts_lat"), "poly_id")

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vmap = bc.value if bc is not None else None
        for b in batches:
            keep = np.zeros(len(b), dtype=bool)
            lon = b["lon"].to_numpy(np.float64)
            lat = b["lat"].to_numpy(np.float64)
            for pid, idx in b.groupby("poly_id").indices.items():
                if vmap is not None:
                    vx, vy = vmap[pid]
                else:
                    vx = np.asarray(b["verts_lon"].iloc[idx[0]], np.float64)
                    vy = np.asarray(b["verts_lat"].iloc[idx[0]], np.float64)
                keep[idx] = K.points_in_polygon(lon[idx], lat[idx], vx, vy)
            yield b.loc[keep, ["poly_id", point_id]]

    pid_type = dict(polygons.dtypes)["poly_id"]
    id_type = dict(points.dtypes)[point_id]
    return cand.mapInPandas(
        refine, schema=f"poly_id {pid_type}, {point_id} {id_type}")


# --------------------------------------------------------------- J10 kNN

def knn_join(points: DataFrame, queries_pdf: pd.DataFrame,
             point_id: str = "image_id", level: int | None = None,
             qt_point: str = "qt_point", max_rounds: int = 8,
             batch_threshold: int = 1000) -> DataFrame:
    """k nearest points per query: ring-expansion cover join + exact
    haversine re-rank (window), iterated until the k-th distance is within
    the ring guarantee radius.  Ties broken by ascending ``point_id``.

    Mercator cells are locally square, so a point outside the Chebyshev-r
    ring around the query's level-L cell is at least
    min(r * (2*pi*R / 2^L) * min(cos(lat)), R * asin(cos(lat_q) *
    sin(r * 2*pi / 2^L))) meters away — the per-round guarantee
    (meridional band term + exact zonal cross-track term; see
    :func:`knn_join_batch` for the derivation).
    Each round only re-runs unsatisfied queries with doubled r; the points
    side is probed via a broadcast (cell -> qid) expansion, so every round
    is one broadcast join + window over candidates, no cross join ever.

    The driver convergence loop materializes each round's top-k to decide
    which queries are satisfied — the right contract for a handful of
    queries (few rounds, tiny collects).  At ``batch_threshold`` queries
    and above it auto-dispatches to :func:`knn_join_batch`, the single-plan
    form with no driver materialization at all (identical output — pinned
    by tests and the shared driver gate).

    ``level=None`` picks the form's own default: 6 for the loop (coarse
    cells keep the doubling-ring convergence within ``max_rounds`` even
    for empty regions), 8 for the batch form (finer cells bound the
    candidate fan-out — the exact result is level-independent)."""
    from pyspark.sql.window import Window

    spark = points.sparkSession
    if len(queries_pdf) >= batch_threshold:
        kwargs = {} if level is None else {"level": level}
        return knn_join_batch(
            points, spark.createDataFrame(
                queries_pdf[["qid", "lon", "lat", "k"]]),
            point_id=point_id, qt_point=qt_point, **kwargs)
    if level is None:
        level = 6
    sh = 63 - 2 * level  # compact cell index (morton bits only)
    pts = points.withColumn(
        "cell_knn", F.shiftrightunsigned(F.col(qt_point), sh)).select(
        "cell_knn", point_id, "lon", "lat")

    remaining = queries_pdf.copy()
    results = []
    r = 1
    for _ in range(max_rounds):
        if len(remaining) == 0:
            break
        # ring cells for each remaining query (driver-side, queries small)
        qlon = remaining.lon.to_numpy(np.int64)
        qlat = remaining.lat.to_numpy(np.int64)
        n = np.int64(1) << np.int64(level)
        x, y = K.norm_xy(qlon, qlat)
        cx = np.clip(np.floor(x * n).astype(np.int64), 0, n - 1)
        cy = np.clip(np.floor(y * n).astype(np.int64), 0, n - 1)
        rows = []
        for i, q in enumerate(remaining.qid.tolist()):
            # x wraps at the antimeridian (haversine distance wraps too);
            # y is clipped (mercator domain is cut at +-85 deg, no data beyond)
            xs = np.unique(np.arange(cx[i] - r, cx[i] + r + 1) % int(n))
            ys = np.arange(max(0, cy[i] - r), min(int(n) - 1, cy[i] + r) + 1)
            gx, gy = np.meshgrid(xs, ys)
            cells = K.qt_from_cell(gx.ravel(), gy.ravel(),
                                   np.full(gx.size, level))
            rows.extend((int(q), int(c) >> sh) for c in cells)
        ring_df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["qid", "cell_knn"]))
        qdf = spark.createDataFrame(
            remaining.rename(columns={"lon": "qlon", "lat": "qlat"}))
        cand = (
            pts.join(F.broadcast(ring_df), "cell_knn")
            .join(F.broadcast(qdf), "qid")
            .withColumn("dist_m", Q.haversine_m(
                F.col("lon"), F.col("lat"), F.col("qlon"), F.col("qlat")))
        )
        w = Window.partitionBy("qid").orderBy(F.col("dist_m").asc(),
                                              F.col(point_id).asc())
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= F.col("k"))
            .select("qid", "rank", point_id, "dist_m", "k")
        )
        got = topk.toPandas()
        # guarantee: ring covers everything within r cells in every direction
        counts = got.groupby("qid").agg(found=("rank", "max"),
                                        kth=("dist_m", "max"))
        sat_ids = []
        for row in remaining.itertuples(index=False):
            g = counts.loc[row.qid] if row.qid in counts.index else None
            # widest |lat| the ring box reaches, for the min-cos bound
            iy = int(np.clip(np.floor(
                K.norm_xy(row.lon, row.lat)[1] * n), 0, int(n) - 1))
            y_edge = max(abs(2.0 * ((iy - r) / float(n)) - 1.0),
                         abs(2.0 * ((iy + r + 1) / float(n)) - 1.0))
            lat_edge = K.inv_merc_y(min(y_edge, 1.0))
            cos_e = np.cos(np.radians(min(abs(float(lat_edge)), 89.9)))
            # exclusion lower bound, exact in both axes (see
            # knn_join_batch): meridional r*C*cos_e plus the zonal
            # cross-track term R*asin(cos(lat_q)*sin(dlam)) — the
            # linear r*C*cos_e alone overestimates the zonal minimum
            # once the ring spans a sizable longitude arc
            r_earth = 6_371_000.0
            cos_q = np.cos(np.radians(row.lat / float(K.COORD_SCALE)))
            mer = r * (2 * np.pi * r_earth / float(n)) * cos_e
            zon = r_earth * np.arcsin(cos_q * np.sin(
                min(r * 2 * np.pi / float(n), np.pi / 2)))
            guarantee = min(mer, zon)
            if r >= int(n):  # ring covers the whole grid: take what exists
                sat_ids.append(row.qid)
            elif g is not None and g.found >= row.k and g.kth <= guarantee:
                sat_ids.append(row.qid)
        sat = got[got.qid.isin(sat_ids)]
        results.append(sat[["qid", "rank", point_id, "dist_m"]])
        remaining = remaining[~remaining.qid.isin(sat_ids)]
        r *= 2
    if len(remaining):
        raise RuntimeError(
            f"kNN did not converge for {len(remaining)} queries "
            f"within {max_rounds} rounds")
    out = pd.concat(results, ignore_index=True)
    return spark.createDataFrame(out)


def knn_join_batch(points: DataFrame, queries: DataFrame,
                   point_id: str = "image_id", level: int = 8,
                   qt_point: str = "qt_point") -> DataFrame:
    """J10 at batch scale: identical results to :func:`knn_join`, but ALL
    queries resolve in ONE plan — no driver convergence loop, no
    per-round materialization, queries as a DataFrame (10^5+ fine).

    Shape:
    1. one narrow aggregation builds the level-``level`` cell histogram
       (<= 4^level rows — plan-sized, driver-bounded by construction);
    2. a mapInPandas over the QUERY side (histogram shipped via a Spark
       broadcast variable) derives each query's ring radius from the
       density — the smallest Chebyshev radius whose cumulative ring
       count covers k (integral-image lookup, O(1) per probe), enlarged
       until the ring guarantee radius exceeds the candidate-distance
       bound (sqrt2 * (r_k+1) cells at equator scale >= any haversine
       distance inside the covering box) — and emits the ring cells
       executor-side;
    3. one equi-join points -> ring cells -> queries plus one window
       re-rank, exactly knn_join's refine.

    The guarantee that makes the single pass exact: the k points inside
    the radius-``r_k`` box are at most ``(r_k+1) * sqrt2 * C * cos_box``
    ground meters away (C = 2piR/2^level) — the ground length of the
    straight mercator segment is its planar length times ``C *
    cos(lat)`` integrated along it, and cos is maximized at the box edge
    nearest the equator (``cos_box``).  Every point OUTSIDE the
    Chebyshev-``r`` ring is at least ``min(r * C * cos(ring-edge lat),
    R * asin(cos(lat_q) * sin(r * 2pi/2^level)))`` away — the meridional
    term integrates cos over the ring's own latitude band; the zonal
    term is the exact cross-track distance from the query to the
    bounding meridian (the linear ``r * C * cos`` form overestimates it
    once the ring spans a sizable longitude arc, since ``asin(c sin x)
    <= c x``).  Any ``r`` whose exclusion bound reaches the candidate
    bound closes the search — per query, in one shot instead of
    knn_join's doubling rounds.  Scaling the candidate bound by
    ``cos_box`` (instead of the equatorial worst case ``cos_box = 1``)
    matters enormously at latitude: without it ``r`` inflates by
    ~1/cos(lat) — measured rf p99 of 17 vs 3 at |lat| <= 75 deg on the
    sf0.1 fixture, a ~30x candidate-volume difference
    (BENCH/knn_crossover.json).
    """
    from pyspark.sql.window import Window

    spark = points.sparkSession
    sh = 63 - 2 * level
    n = 1 << level
    pts = points.withColumn(
        "cell_knn", F.shiftrightunsigned(F.col(qt_point), sh)).select(
        "cell_knn", point_id, "lon", "lat")

    hist = (pts.groupBy("cell_knn").count().toPandas())
    grid = np.zeros((n, n), dtype=np.int64)
    # cell_knn is qt >>> sh; rebuild a valid level-`level` key (depth in
    # the low 5 bits) before decoding to grid coordinates
    hx, hy, _hd = K.qt_to_cell(
        (hist["cell_knn"].to_numpy(np.int64) << np.int64(sh))
        | np.int64(level))
    grid[hx, hy] = hist["count"].to_numpy(np.int64)
    # integral image over y per x-column + x prefix: ring sums in O(1),
    # with x wrapped modulo n (antimeridian) as <=2 interval lookups
    integ = np.zeros((n + 1, n + 1), dtype=np.int64)
    integ[1:, 1:] = grid.cumsum(0).cumsum(1)
    total = int(grid.sum())
    b_int = spark.sparkContext.broadcast(integ)

    def box_count(ig, cx, cy, r):
        y0, y1 = max(0, cy - r), min(n - 1, cy + r)
        x0, x1 = cx - r, cx + r
        if x1 - x0 + 1 >= n:
            xa = [(0, n - 1)]
        else:
            x0m, x1m = x0 % n, x1 % n
            xa = [(x0m, x1m)] if x0m <= x1m else [(x0m, n - 1), (0, x1m)]
        s = 0
        for a, b in xa:
            s += (ig[b + 1, y1 + 1] - ig[a, y1 + 1]
                  - ig[b + 1, y0] + ig[a, y0])
        return s

    def rings(batches):
        ig = b_int.value
        for qb in batches:
            qlon = qb["lon"].to_numpy(np.int64)
            qlat = qb["lat"].to_numpy(np.int64)
            ks = qb["k"].to_numpy(np.int64)
            x, y = K.norm_xy(qlon, qlat)
            cxs = np.clip(np.floor(x * n).astype(np.int64), 0, n - 1)
            cys = np.clip(np.floor(y * n).astype(np.int64), 0, n - 1)
            out_q, out_c = [], []
            for qid, cx, cy, k, qlat_deg in zip(
                    qb["qid"].tolist(), cxs, cys, ks,
                    qlat / float(K.COORD_SCALE)):
                cx, cy = int(cx), int(cy)
                if total < k:
                    rf = n  # take what exists: whole grid
                else:
                    rk = 0
                    while box_count(ig, cx, cy, rk) < k:
                        rk += 1
                    # candidate-distance bound, latitude-tight: cos is
                    # maximized at the rk-box edge nearest the equator
                    # (cos_box = 1 when the box straddles it)
                    e0 = 2.0 * (cy - rk) / n - 1.0
                    e1 = 2.0 * (cy + rk + 1) / n - 1.0
                    if e0 <= 0.0 <= e1:
                        cos_box = 1.0
                    else:
                        lat_box = K.inv_merc_y(min(abs(e0), abs(e1)))
                        cos_box = np.cos(np.radians(abs(float(lat_box))))
                    need = (rk + 1) * np.sqrt(2.0) * cos_box
                    cos_q = np.cos(np.radians(qlat_deg))
                    rf = max(1, int(np.ceil(need)))
                    while rf < n:
                        y_edge = max(abs(2.0 * ((cy - rf) / n) - 1.0),
                                     abs(2.0 * ((cy + rf + 1) / n) - 1.0))
                        lat_edge = K.inv_merc_y(min(y_edge, 1.0))
                        cos_e = np.cos(np.radians(
                            min(abs(float(lat_edge)), 89.9)))
                        # exclusion lower bound, exact in both axes:
                        # meridional rf*cos_e cells; zonal via the
                        # cross-track formula R*asin(cos(lat_q)*sin(dlam))
                        # — the linear rf*cos form OVERestimates the
                        # zonal minimum for rings spanning a sizable
                        # longitude arc (asin(c*sin x) <= c*x)
                        mer = rf * cos_e
                        zon = (n / (2.0 * np.pi)) * np.arcsin(
                            cos_q * np.sin(min(rf * 2.0 * np.pi / n,
                                               np.pi / 2.0)))
                        if min(mer, zon) >= need:
                            break
                        rf += 1
                rf = min(rf, n)
                xs = np.unique(np.arange(cx - rf, cx + rf + 1) % n)
                ys = np.arange(max(0, cy - rf), min(n - 1, cy + rf) + 1)
                gx, gy = np.meshgrid(xs, ys)
                cells = K.qt_from_cell(gx.ravel(), gy.ravel(),
                                       np.full(gx.size, level))
                out_q.extend([qid] * len(cells))
                out_c.extend((int(c) >> sh) for c in cells)
                if len(out_q) >= 200_000:
                    yield pd.DataFrame({"qid": out_q, "cell_knn": out_c})
                    out_q, out_c = [], []
            if out_q:
                yield pd.DataFrame({"qid": out_q, "cell_knn": out_c})

    # qid keeps its input type (hardcoding long would break string ids
    # and mismatch the join with qdf)
    ring_df = queries.select("qid", "lon", "lat", "k").mapInPandas(
        rings, schema=f"qid {dict(queries.dtypes)['qid']}, cell_knn long")
    qdf = queries.select("qid", F.col("lon").alias("qlon"),
                         F.col("lat").alias("qlat"), "k")
    cand = (
        pts.join(ring_df, "cell_knn")
        .join(qdf, "qid")
        .withColumn("dist_m", Q.haversine_m(
            F.col("lon"), F.col("lat"), F.col("qlon"), F.col("qlat")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist_m").asc(),
                                          F.col(point_id).asc())
    # Measured negative result (README perf rule 19): adding max(k) as a
    # LITERAL rank conjunct to trigger InferWindowGroupLimit made the
    # 10^5-query case ~1.4x WORSE (19.6-25.8s vs 14.3-14.8s, alternating
    # same-session A/B).  On this plan the window piggybacks on the
    # qid-join's existing hash partitioning, so there is no window
    # shuffle to shrink — WindowGroupLimitExec runs Final-mode only and
    # just inserts a non-codegen truncation pass between Sort and Window.
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("qid", "rank", point_id, "dist_m")
    )


# --------------------------------------------------------------- J12 raster

def raster_vector_assign(df: DataFrame, raster_depth: int = 10,
                         cell_level: int = 7,
                         qt_col: str = "qt_point") -> DataFrame:
    """(qt_raster, cell) cover pairs present in the data: every raster tile
    at ``raster_depth`` mapped to its covering coarse cell at ``cell_level``
    (qt prefix algebra, reference round/is_parent src/elements.rs:38-40).
    Distinct over data — one narrow aggregation.
    """
    return (
        df.select(
            Q.qt_round(F.col(qt_col), raster_depth).alias("qt_raster"),
            Q.qt_round(F.col(qt_col), cell_level).alias("cell"),
        ).distinct()
    )

