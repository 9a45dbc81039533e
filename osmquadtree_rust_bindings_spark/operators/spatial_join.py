"""Spatial joins: bbox/range (J11), point-in-polygon (J9), kNN (J10),
raster-tile <-> vector-cell assignment (J12).

All four follow the same Spark-first shape (SURVEY.md §2.3): a coarse
"cover" equi-join on grid cells followed by an exact refine — the
standard cover+refine spatial join.  bbox and PIP share one candidate
plan: the query side's cover is exploded from its bounds in Column
algebra and joined on the point's cell (AQE picks broadcast or shuffle,
and splits a hot cell); the refine is part of the join condition: a
Column interval predicate (bbox) plus, for PIP, ray crossings over the
polygon edges whose row band the cover row carries.  No Python worker
runs on either path.  kNN keys points by the same cell; each query's
ring of cells is sized from a density histogram in one vectorized numpy
pass and exploded in Column algebra.

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
from osmquadtree_rust_bindings_spark.operators import calcqts as CQ

COVER_DEPTH = 8  # coarse cover-grid depth for bbox, PIP and kNN joins
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
    """(id, bounds[, edges], cell_cov) rows, one per cover cell each box
    touches.

    A frame with an ``edges`` column (PIP) keeps on each cover row only
    the edges whose row band ``[lo, hi]`` holds that row.  Rows are
    exploded before columns, so each band is filtered once per row and
    never copied whole to every cell of a large ring."""
    keep = [id_col, *_BOUNDS] + (["edges"] if "edges" in frame.columns else [])
    rows = frame.selectExpr(
        *keep, f"explode(sequence({_iy('minlat')}, {_iy('maxlat')})) AS iy")
    if "edges" in keep:
        rows = rows.withColumn(
            "edges", F.expr("filter(edges, e -> e.lo <= iy AND iy <= e.hi)"))
    return (
        rows.selectExpr(
            *keep, "iy",
            f"explode(sequence({_ix('minlon')}, {_ix('maxlon')})) AS ix")
        .selectExpr(*keep, f"shiftleft(ix, {COVER_DEPTH}) | iy AS cell_cov")
    )


_POINT_CELL = f"shiftleft({_ix('lon')}, {COVER_DEPTH}) | {_iy('lat')}"


def _candidates(points: DataFrame, frame: DataFrame, id_col: str,
                point_id: str, refine: str = "true") -> DataFrame:
    """(id, point_id) for every point in a box, closed intervals
    (reference bbox.contains_point / Poly.check_box), that also passes the
    SQL predicate ``refine``."""
    pts = points.withColumn("cell_cov", F.expr(_POINT_CELL))
    return (
        pts.join(_cover(frame, id_col), "cell_cov")
        .filter(
            (F.col("lon") >= F.col("minlon")) & (F.col("lon") <= F.col("maxlon"))
            & (F.col("lat") >= F.col("minlat")) & (F.col("lat") <= F.col("maxlat"))
            & F.expr(refine)
        )
        .select(id_col, point_id)
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
    return _candidates(points, boxes, "qid", point_id)


# --------------------------------------------------------------- J9 PIP

# Edge i of a ring joins vertex i to vertex (i - 1) mod n, in doubles, as
# in K.points_in_polygon.  Horizontal edges are dropped: the kernel's first
# clause masks them, and dropping them keeps the divisor below nonzero
# (ANSI division by zero raises).  lo/hi is the edge's row band, through
# the same clamped grid expression the points are keyed by.  transform's
# index walks the ring, so an empty ring has no edges (sequence(0, -1)
# would count down and index past the end).
_EDGES = """filter(transform(verts_lat, (v, i) -> named_struct(
    'xi', double(verts_lon[i]), 'yi', double(v),
    'xj', double(verts_lon[pmod(i - 1, size(verts_lat))]),
    'yj', double(verts_lat[pmod(i - 1, size(verts_lat))]))),
  e -> e.yi != e.yj)"""
_BAND = f"""transform({_EDGES}, e -> named_struct(
    'xi', e.xi, 'yi', e.yi, 'xj', e.xj, 'yj', e.yj,
    'lo', {_iy('least(e.yi, e.yj)')}, 'hi', {_iy('greatest(e.yi, e.yj)')}))"""

# The kernel's ray-crossing test, in its order of operations, over the
# edges banded on the point's row: bit-identical to K.points_in_polygon.
# The point enters through the accumulator, never as an outer column in
# the lambda body: a lambda reading outer columns of both join sides was
# seen pushed into the polygon side on Spark 4.1 (cached points), where
# it failed to resolve ``lat``.
_INSIDE = """aggregate(edges,
    named_struct('x', double(lon), 'y', double(lat), 'in', false),
    (a, e) -> named_struct('x', a.x, 'y', a.y, 'in', a.in != (
        ((e.yi > a.y) != (e.yj > a.y))
        AND a.x < (e.xj - e.xi) * (a.y - e.yi) / (e.yj - e.yi) + e.xi)),
    a -> a.in)"""


def pip_join(points: DataFrame, polygons: pd.DataFrame | DataFrame,
             point_id: str = "image_id") -> DataFrame:
    """(poly_id, point_id) pairs with the point strictly inside the polygon
    (shapely-``contains``-style boundary exclusion; reference
    Poly.contains_point, src/readpbf.rs:761-763).

    ``polygons`` (poly_id, verts_lon, verts_lat + bounds) may be pandas or
    a DataFrame; either way it is :func:`bbox_join`'s plan over the
    polygon bboxes (reference check_box) with the exact refine added to
    the join condition, all in Column algebra:

    1. each ring's non-horizontal edges are built once, each with its
       row band (the depth-``COVER_DEPTH`` rows it spans);
    2. each cover row keeps only the edges whose band holds that row.
       An edge the point's horizontal ray crosses spans the point's
       latitude, so it is in the band of the point's row;
    3. ray crossings over that band, in the kernel's arithmetic, decide
       the candidate.

    A huge ring given as pandas pays for its vertices through
    ``createDataFrame`` (README perf rule 20).
    """
    if isinstance(polygons, pd.DataFrame):
        polygons = points.sparkSession.createDataFrame(
            polygons[["poly_id", "verts_lon", "verts_lat", *_BOUNDS]])
    rings = polygons.selectExpr("poly_id", *_BOUNDS, f"{_BAND} AS edges")
    return _candidates(points, rings, "poly_id", point_id, refine=_INSIDE)


# --------------------------------------------------------------- J10 kNN

def _box_counts(integ: np.ndarray, n: int, cx: np.ndarray, cy: np.ndarray,
                r: np.ndarray) -> np.ndarray:
    """Point counts in the Chebyshev-``r`` boxes around cells (cx, cy),
    from the integral image ``integ`` of an n x n (x, y) grid.  x wraps
    modulo n (antimeridian) as at most two column intervals; y is
    clipped."""
    y0 = np.maximum(0, cy - r)
    y1 = np.minimum(n - 1, cy + r) + 1
    full = 2 * r + 1 >= n
    x0 = np.where(full, 0, (cx - r) % n)
    x1 = np.where(full, n - 1, (cx + r) % n)
    wrap = x0 > x1

    def cols(a, b):  # columns a..b inclusive, rows y0..y1-1
        return (integ[b + 1, y1] - integ[a, y1]
                - integ[b + 1, y0] + integ[a, y0])

    return (cols(x0, np.where(wrap, n - 1, x1))
            + np.where(wrap, cols(np.zeros_like(x1), x1), 0))


def _ring_radius(integ: np.ndarray, n: int, cx: np.ndarray, cy: np.ndarray,
                 k: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Each query's ring radius ``rf`` in cells: every point outside the
    Chebyshev-``rf`` ring around the query's cell (cx, cy) is farther
    than its k-th nearest neighbour, so one ring join is exact.  ``lat``
    is the query latitude in degrees.  Vectorized: each step moves the
    radius of the queries still unsatisfied, never one query at a time.

    1. ``rk`` is the smallest radius whose box holds k points
       (:func:`_box_counts`; a query with k above the total takes what
       exists: the whole grid, ``rf = n``).
    2. The k points inside the radius-``rk`` box are at most
       ``need = (rk+1) * sqrt2 * cos_box`` cells of C = 2piR/n ground
       meters away: the ground length of a straight mercator segment is
       its planar length times ``C * cos(lat)`` integrated along it, and
       cos is maximized at the box edge nearest the equator
       (``cos_box``; 1 when the box straddles it).
    3. Every point OUTSIDE the Chebyshev-``rf`` ring is at least
       ``min(rf * cos(ring-edge lat), n/2pi * asin(cos(lat_q) *
       sin(rf * 2pi/n)))`` cells away: the meridional term integrates
       cos over the ring's own latitude band; the zonal term is the
       exact cross-track distance from the query to the bounding
       meridian (the linear ``rf * cos`` form overestimates it once the
       ring spans a sizable longitude arc, since ``asin(c sin x) <= c
       x``).  ``rf`` starts at ``max(1, ceil(need))`` and grows until
       this exclusion bound reaches ``need``.

    Scaling ``need`` by ``cos_box`` (instead of the equatorial worst
    case ``cos_box = 1``) matters enormously at latitude: without it
    ``rf`` inflates by ~1/cos(lat) — measured rf p99 of 17 vs 3 at
    |lat| <= 75 deg on the sf0.1 fixture, a ~30x candidate-volume
    difference (BENCH/knn_crossover.json)."""
    total = integ[n, n]
    rk = np.zeros(len(cx), dtype=np.int64)
    act = np.flatnonzero(k <= total)
    while act.size:
        act = act[_box_counts(integ, n, cx[act], cy[act], rk[act]) < k[act]]
        rk[act] += 1
    e0 = 2.0 * (cy - rk) / n - 1.0
    e1 = 2.0 * (cy + rk + 1) / n - 1.0
    lat_box = K.inv_merc_y(np.minimum(np.abs(e0), np.abs(e1)))
    cos_box = np.where((e0 <= 0.0) & (0.0 <= e1), 1.0,
                       np.cos(np.radians(np.abs(lat_box))))
    need = (rk + 1) * np.sqrt(2.0) * cos_box
    cos_q = np.cos(np.radians(lat))
    rf = np.where(k <= total, np.maximum(1.0, np.ceil(need)), n) \
        .astype(np.int64)
    act = np.flatnonzero(rf < n)
    while act.size:
        r, c = rf[act], cy[act]
        y_edge = np.maximum(np.abs(2.0 * ((c - r) / n) - 1.0),
                            np.abs(2.0 * ((c + r + 1) / n) - 1.0))
        lat_edge = K.inv_merc_y(np.minimum(y_edge, 1.0))
        cos_e = np.cos(np.radians(np.minimum(np.abs(lat_edge), 89.9)))
        mer = r * cos_e
        zon = (n / (2.0 * np.pi)) * np.arcsin(cos_q[act] * np.sin(
            np.minimum(r * 2.0 * np.pi / n, np.pi / 2.0)))
        act = act[np.minimum(mer, zon) < need[act]]
        rf[act] += 1
        act = act[rf[act] < n]
    return np.minimum(rf, n)


def _with_radius(q: pd.DataFrame, integ: np.ndarray) -> pd.DataFrame:
    """(qid, qlon, qlat, k, cx, cy, rf): each query with its depth-
    ``COVER_DEPTH`` cell (the point key's grid, latitude clamped the same
    way) and ring radius."""
    n = integ.shape[0] - 1
    lat = q["lat"].to_numpy(np.int64)
    x, y = K.norm_xy(q["lon"].to_numpy(np.int64),
                     np.clip(lat, -850_600_000, 850_600_000))
    cx = np.clip(np.floor(x * n).astype(np.int64), 0, n - 1)
    cy = np.clip(np.floor(y * n).astype(np.int64), 0, n - 1)
    rf = _ring_radius(integ, n, cx, cy, q["k"].to_numpy(np.int64),
                      lat / float(K.COORD_SCALE))
    return q.rename(columns={"lon": "qlon", "lat": "qlat"}).assign(
        cx=cx, cy=cy, rf=rf)


def knn_join(points: DataFrame, queries: pd.DataFrame | DataFrame,
             point_id: str = "image_id") -> DataFrame:
    """(qid, rank, point_id, dist_m): the k nearest points per query by
    haversine distance, ties broken by ascending ``point_id``.

    ``queries`` (qid, lon, lat, k) may be pandas or a DataFrame; either
    way it is one plan:

    1. points are keyed by the bbox/PIP cover cell ``(ix << 8) | iy``
       and one aggregation builds its histogram (<= 4^COVER_DEPTH rows),
       turned into an integral image on the driver;
    2. each query's ring radius comes from :func:`_ring_radius` (the
       derivation that makes one ring exact is there).  Where it runs
       follows the input type: on the driver for pandas queries, in one
       ``mapInPandas`` (one row per query) for a DataFrame;
    3. the ring cells are exploded in Column algebra (x wraps modulo the
       grid width at the antimeridian, y is clipped), equi-joined to the
       points' cell, and one window re-ranks candidates by distance.

    A query with k above the point count takes what exists.
    """
    from pyspark.sql.window import Window

    spark = points.sparkSession
    n = 1 << COVER_DEPTH
    pts = points.select(F.expr(_POINT_CELL).alias("cell_cov"), point_id,
                        "lon", "lat")
    hist = pts.groupBy("cell_cov").count().toPandas()
    grid = np.zeros(n * n, dtype=np.int64)
    grid[hist["cell_cov"].to_numpy(np.int64)] = hist["count"].to_numpy()
    # integral image: integ[x, y] = points in cells [0, x) x [0, y)
    integ = np.zeros((n + 1, n + 1), dtype=np.int64)
    integ[1:, 1:] = grid.reshape(n, n).cumsum(0).cumsum(1)

    cols = ["qid", "lon", "lat", "k"]
    if isinstance(queries, pd.DataFrame):
        ring = spark.createDataFrame(_with_radius(queries[cols], integ))
    else:
        queries = queries.select(*cols)

        # the integral image (~0.5 MB) travels in the pickled function;
        # PySpark broadcasts any command above
        # spark.broadcast.UDFCompressionThreshold (1 MiB) by itself
        def radii(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for b in batches:
                yield _with_radius(b, integ)

        # query columns keep their input types (a string qid stays one)
        t = dict(queries.dtypes)
        ring = queries.mapInPandas(radii, schema=(
            f"qid {t['qid']}, qlon {t['lon']}, qlat {t['lat']}, k {t['k']},"
            " cx long, cy long, rf long"))
    keep = ["qid", "qlon", "qlat", "k"]
    ring = (
        ring.selectExpr(
            *keep, "cy", "rf",
            f"explode(sequence(cx - rf, cx - rf + least(2 * rf, {n - 1})))"
            " AS ix")
        .selectExpr(
            *keep, "ix",
            f"explode(sequence(greatest(0, cy - rf), least({n - 1}, cy + rf)))"
            " AS iy")
        .selectExpr(
            *keep, f"shiftleft(pmod(ix, {n}), {COVER_DEPTH}) | iy AS cell_cov")
    )
    cand = pts.join(ring, "cell_cov").withColumn("dist_m", Q.haversine_m(
        F.col("lon"), F.col("lat"), F.col("qlon"), F.col("qlat")))
    w = Window.partitionBy("qid").orderBy(F.col("dist_m").asc(),
                                          F.col(point_id).asc())
    # Measured negative result (README perf rule 19): adding max(k) as a
    # LITERAL rank conjunct to trigger InferWindowGroupLimit made the
    # 10^5-query case ~1.4x WORSE (19.6-25.8s vs 14.3-14.8s, alternating
    # same-session A/B, on the earlier plan with a second qid join).
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("qid", "rank", point_id, "dist_m")
    )


# --------------------------------------------------------------- J12 raster

def raster_vector_assign(df: DataFrame, raster_depth: int = 10,
                         cell_level: int = CQ.CELL_LEVEL,
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

