"""T2/T3: spatial joins vs brute-force numpy/pandas oracles (SURVEY.md §5)."""

import numpy as np
import pandas as pd
import pytest

from osmquadtree_rust_bindings_spark import kernels as K
from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
from osmquadtree_rust_bindings_spark.operators import spatial_join as SJ
from osmquadtree_rust_bindings_spark.sources import fixtures as FX
from osmquadtree_rust_bindings_spark.sources import images as I

N = 4000


@pytest.fixture(scope="module")
def images_pdf():
    pdf = I.make_images_pdf(0, N, with_bytes=False)
    lon, lat = K.phash_lonlat(pdf.phash.to_numpy(np.int64))
    return pdf.assign(lon=lon, lat=lat)


@pytest.fixture(scope="module")
def calc(spark, images_pdf):
    sdf = spark.createDataFrame(images_pdf.drop(columns=["lon", "lat"]))
    return CQ.run_calcqts(sdf).select(
        "image_id", "lon", "lat", "qt", "qt_point", "cell").cache()


def _bbox_brute(pts: pd.DataFrame, boxes: pd.DataFrame) -> pd.DataFrame:
    """(qid, image_id) by closed-interval test of every point in every box,
    vectorized in box chunks."""
    plon = pts.lon.to_numpy()
    plat = pts.lat.to_numpy()
    ids = pts.image_id.to_numpy()
    qids = boxes.qid.to_numpy()
    exp_q, exp_i = [], []
    CH = 2000
    for lo in range(0, len(boxes), CH):
        b = boxes.iloc[lo:lo + CH]
        m = ((plon[None, :] >= b.minlon.values[:, None])
             & (plon[None, :] <= b.maxlon.values[:, None])
             & (plat[None, :] >= b.minlat.values[:, None])
             & (plat[None, :] <= b.maxlat.values[:, None]))
        q, j = np.nonzero(m)
        exp_q.extend(qids[q + lo].tolist())
        exp_i.extend(ids[j].tolist())
    return pd.DataFrame({"qid": exp_q, "image_id": exp_i}) \
        .sort_values(["qid", "image_id"]).reset_index(drop=True)


def _pip_brute(pts: pd.DataFrame, polys: pd.DataFrame) -> pd.DataFrame:
    """(poly_id, image_id) by the ray-crossing kernel over every point."""
    plon = pts.lon.to_numpy(np.float64)
    plat = pts.lat.to_numpy(np.float64)
    rows = []
    for p in polys.itertuples(index=False):
        inside = K.points_in_polygon(
            plon, plat, np.asarray(p.verts_lon, np.float64),
            np.asarray(p.verts_lat, np.float64))
        rows.extend((p.poly_id, i) for i in pts.image_id.values[inside])
    return pd.DataFrame(rows, columns=["poly_id", "image_id"]) \
        .sort_values(["poly_id", "image_id"]).reset_index(drop=True)


def _sorted(df, keys):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


def test_bbox_join_exact(spark, calc, images_pdf):
    boxes = FX.make_bbox_queries_pdf(60)
    got = SJ.bbox_join(calc, boxes).toPandas() \
        .sort_values(["qid", "image_id"]).reset_index(drop=True)
    # oracle: closed-interval cross check
    rows = []
    for b in boxes.itertuples(index=False):
        m = ((images_pdf.lon >= b.minlon) & (images_pdf.lon <= b.maxlon)
             & (images_pdf.lat >= b.minlat) & (images_pdf.lat <= b.maxlat))
        rows.extend((b.qid, iid) for iid in images_pdf.image_id[m])
    exp = pd.DataFrame(rows, columns=["qid", "image_id"]) \
        .sort_values(["qid", "image_id"]).reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, exp)


def test_bbox_join_dataframe_matches_pandas_input(spark, calc, images_pdf):
    # the box set as pandas or as a DataFrame runs the same plan and
    # returns the brute-force pairs
    boxes = FX.make_bbox_queries_pdf(60)
    exp = _bbox_brute(images_pdf, boxes)
    assert len(exp) > 0
    a = _sorted(SJ.bbox_join(calc, boxes), ["qid", "image_id"])
    b = _sorted(SJ.bbox_join(calc, spark.createDataFrame(boxes)),
                ["qid", "image_id"])
    pd.testing.assert_frame_equal(a, exp)
    pd.testing.assert_frame_equal(b, exp)


def test_bbox_join_batch_large_box_set(spark, calc, images_pdf):
    # 2*10^4 boxes as a DataFrame (cover exploded executor-side, nothing
    # on the driver) equal the vectorized brute-force oracle
    rng = np.random.default_rng(17)
    nb = 20_000
    w = rng.integers(1_000_000, 200_000_000, nb)
    h = rng.integers(1_000_000, 200_000_000, nb)
    cx = rng.integers(-1_600_000_000, 1_600_000_000, nb)
    cy = rng.integers(-700_000_000, 700_000_000, nb)
    boxes = pd.DataFrame({
        "qid": np.arange(nb),
        "minlon": cx - w, "minlat": cy - h,
        "maxlon": cx + w, "maxlat": cy + h,
    })
    got = _sorted(SJ.bbox_join(calc, spark.createDataFrame(boxes)),
                  ["qid", "image_id"])
    exp = _bbox_brute(images_pdf, boxes)
    assert len(exp) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_bbox_join_batch_float_bounds(spark, calc, images_pdf):
    # the cover preserves input column types: float bounds must compare
    # as doubles in the refine for both input types.  Boxes are anchored
    # 0.5 units past real point coordinates, so truncating bounds to long
    # would wrongly include each box's anchor point — this pins the
    # non-truncating behavior.
    p = images_pdf.iloc[:20]
    boxes = pd.DataFrame({
        "qid": np.arange(20),
        "minlon": p.lon.values + 0.5,
        "minlat": p.lat.values - 50_000_000.0,
        "maxlon": p.lon.values + 200_000_000.5,
        "maxlat": p.lat.values + 50_000_000.5,
    })
    small = _sorted(SJ.bbox_join(calc, boxes), ["qid", "image_id"])
    batch = _sorted(SJ.bbox_join(calc, spark.createDataFrame(boxes)),
                    ["qid", "image_id"])
    exp = _bbox_brute(images_pdf, boxes)
    # every anchor point sits 0.5 below its box's minlon: must be absent
    anchor_pairs = set(zip(range(20), p.image_id))
    assert not (set(zip(batch.qid, batch.image_id)) & anchor_pairs)
    pd.testing.assert_frame_equal(batch, exp, check_dtype=False)
    pd.testing.assert_frame_equal(small, exp, check_dtype=False)


def _cover_edge_fixture():
    """Points and boxes on depth-8 cover-cell boundaries, at lon +-180 and
    past the mercator clip (+-85.06 deg)."""
    n = 1 << SJ.COVER_DEPTH
    # lon cell edges are exact in 1e-7 deg; lat edges are rounded, so each
    # is taken with its two neighbours to straddle the boundary
    lon_edges = [k * 3_600_000_000 // n - 1_800_000_000
                 for k in (0, 1, 37, 128, 129, 200, 255, 256)]
    lat_edges = [int(round(float(K.inv_merc_y(2.0 * j / n - 1.0)) * 1e7))
                 for j in (1, 40, 127, 128, 129, 200, 255)]
    lons = sorted({v + d for v in lon_edges for d in (-1, 0, 1)
                   if abs(v + d) <= 1_800_000_000})
    lats = sorted({v + d for v in lat_edges for d in (-1, 0, 1)}
                  | {s * v for s in (-1, 1)
                     for v in (850_511_288, 850_600_000, 890_000_000,
                               900_000_000)})
    glon, glat = np.meshgrid(lons, lats)
    pts = pd.DataFrame({"lon": glon.ravel(), "lat": glat.ravel()})
    pts["image_id"] = [f"p{i:05d}" for i in range(len(pts))]
    e_lo, e_la = lon_edges, lat_edges
    boxes = [
        (e_lo[1], e_la[1], e_lo[3], e_la[3]),    # edges on cell edges
        (e_lo[3], e_la[2], e_lo[4], e_la[4]),    # one cell column wide
        (e_lo[2], e_la[3], e_lo[5], e_la[3]),    # zero-height, on an edge
        (e_lo[4], e_la[4], e_lo[4], e_la[4]),    # a single corner point
        (e_lo[0], e_la[5], e_lo[1], 900_000_000),   # lon -180, past clip
        (e_lo[6], -900_000_000, e_lo[7], e_la[1]),  # lon +180, past clip
        (e_lo[0], -900_000_000, e_lo[7], 900_000_000),  # whole world
        (e_lo[5], 850_600_000, e_lo[7], 900_000_000),   # beyond the clip
        (e_lo[2], -1_000_000_000, e_lo[6], 1_000_000_000),  # past the poles
        (e_lo[5], e_la[1], e_lo[2], e_la[4]),    # inverted lon
        (e_lo[1], e_la[4], e_lo[5], e_la[1]),    # inverted lat
    ]
    boxes = pd.DataFrame(boxes, columns=["minlon", "minlat",
                                         "maxlon", "maxlat"])
    boxes.insert(0, "qid", np.arange(len(boxes)))
    return pts, boxes


def test_cover_edges_match_brute_force(spark):
    pts, boxes = _cover_edge_fixture()
    sdf = spark.createDataFrame(pts)
    exp = _bbox_brute(pts, boxes)
    for src in (boxes, spark.createDataFrame(boxes)):
        got = _sorted(SJ.bbox_join(sdf, src), ["qid", "image_id"])
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # every point on the edge of a box counts (closed intervals) ...
    assert len(exp[exp.qid == 6]) == len(pts)
    assert len(exp[exp.qid == 3]) == 1
    # ... and inverted boxes match nothing
    assert not exp.qid.isin([9, 10]).any()

    # polygons whose vertices (and so bbox edges) sit on the same cell
    # edges; the corner points are boundary points, excluded by PIP
    polys = []
    for b in boxes.itertuples(index=False):
        if b.minlon >= b.maxlon or b.minlat >= b.maxlat:
            continue
        vx = [b.minlon, b.maxlon, b.maxlon, b.minlon]
        vy = [b.minlat, b.minlat, b.maxlat, b.maxlat]
        polys.append((f"r{b.qid}", vx, vy, b.minlon, b.minlat,
                      b.maxlon, b.maxlat))
        polys.append((f"t{b.qid}", vx[:3], vy[:3], b.minlon, b.minlat,
                      b.maxlon, b.maxlat))
    polys = pd.DataFrame(polys, columns=[
        "poly_id", "verts_lon", "verts_lat",
        "minlon", "minlat", "maxlon", "maxlat"])
    exp = _pip_brute(pts, polys)
    assert len(exp) > 0
    for src in (polys, spark.createDataFrame(polys)):
        got = _sorted(SJ.pip_join(sdf, src), ["poly_id", "image_id"])
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.mark.parametrize("nb", [100, 20_000])
def test_bbox_join_plan_has_no_python(spark, calc, nb):
    # one plan at every query count: the cover and the PIP ray-crossing
    # refine are Column algebra, so no Python worker runs anywhere in the
    # executed plan of bbox_join or of pip_join on either input type
    polys = FX.make_polygons_pdf(nb)
    for df in (SJ.bbox_join(calc, FX.make_bbox_queries_pdf(nb)),
               SJ.pip_join(calc, polys),
               SJ.pip_join(calc, spark.createDataFrame(polys))):
        assert len(df.collect()) > 0
        plan = _executed_plan(df)
        assert "isFinalPlan=true" in plan
        assert "MapInPandas" not in plan and "Python" not in plan


def _ring(cx: int, cy: int, radii, n: int) -> tuple[list, list]:
    """n vertices at angles 2*pi*i/n around (cx, cy), radius radii[i % 2]
    (1e-7 deg): a star, so non-convex, when the two radii differ."""
    ang = 2 * np.pi * np.arange(n) / n
    r = np.where(np.arange(n) % 2 == 0, radii[0], radii[1])
    return (np.round(cx + r * np.cos(ang)).astype(np.int64).tolist(),
            np.round(cy + r * np.sin(ang)).astype(np.int64).tolist())


def test_pip_edge_bands_match_kernel(spark):
    # the edge-band refine gives the kernel's answer bit for bit on
    # boundary points, long edges, a big non-convex ring and degenerate
    # rings, for both input types and a cached points frame
    D = 10_000_000
    rng = np.random.default_rng(5)
    lon = [rng.integers(-30 * D, 30 * D, 20_000)]
    lat = [rng.integers(-80 * D, 80 * D, 20_000)]
    # pentagon with lattice vertices: points ON its edges (vertical x = 0,
    # horizontal y = 0, the slanted edge's exact midpoint) and at each
    # vertex's latitude
    pv = ([0, 2 * D, 2 * D, D, 0], [0, 0, 2 * D, 3 * D, 2 * D])
    on_x = np.arange(-D, 3 * D + 1, D // 4)
    for y in (0, 2 * D, 3 * D):
        lon.append(on_x)
        lat.append(np.full(len(on_x), y))
    lon.append(np.zeros(9, np.int64))
    lat.append(np.arange(0, 2 * D + 1, D // 4))
    lon.append(np.array([3 * D // 2, 3 * D // 2 - 1, 3 * D // 2 + 1]))
    lat.append(np.array([5 * D // 2] * 3))
    # a thin triangle whose two long north-south edges span > 100 rows
    tv = ([10 * D, 11 * D, 12 * D], [-70 * D, 70 * D, -70 * D])
    lon.append(rng.integers(10 * D, 12 * D, 5_000))
    lat.append(rng.integers(-75 * D, 75 * D, 5_000))
    sv = _ring(-15 * D, 20 * D, (6 * D, 2 * D), 5_000)
    pts = pd.DataFrame({"lon": np.concatenate(lon),
                        "lat": np.concatenate(lat)})
    pts["image_id"] = np.arange(len(pts))
    box = (4 * D, 4 * D, 9 * D, 9 * D)
    polys = pd.DataFrame(
        [("pent", *pv), ("long", *tv), ("star", *sv),
         ("one", [5 * D], [5 * D]), ("two", [4 * D, 9 * D], [4 * D, 9 * D]),
         ("empty", [], [])],
        columns=["poly_id", "verts_lon", "verts_lat"])
    for c, v in zip(SJ._BOUNDS, box):
        polys[c] = v
    for i in range(3):
        vx, vy = polys.verts_lon[i], polys.verts_lat[i]
        polys.loc[i, SJ._BOUNDS] = [min(vx), min(vy), max(vx), max(vy)]
    polys[SJ._BOUNDS] = polys[SJ._BOUNDS].astype(np.int64)
    n = 1 << SJ.COVER_DEPTH
    rows = np.floor((K.merc_y(np.array([-70.0, 70.0])) + 1) / 2 * n)
    assert rows[1] - rows[0] > 100

    exp = _pip_brute(pts, polys)
    assert set(exp.poly_id) == {"pent", "long", "star"}
    sdf = spark.createDataFrame(pts).cache()
    try:
        for src in (polys, spark.createDataFrame(polys)):
            got = _sorted(SJ.pip_join(sdf, src), ["poly_id", "image_id"])
            pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    finally:
        sdf.unpersist()


def test_pip_join_exact(spark, calc, images_pdf):
    polys = FX.make_polygons_pdf(80)
    got = SJ.pip_join(calc, polys).toPandas() \
        .sort_values(["poly_id", "image_id"]).reset_index(drop=True)
    rows = []
    for p in polys.itertuples(index=False):
        inside = K.points_in_polygon(
            images_pdf.lon.to_numpy(np.float64),
            images_pdf.lat.to_numpy(np.float64),
            np.asarray(p.verts_lon, np.float64),
            np.asarray(p.verts_lat, np.float64))
        rows.extend((p.poly_id, iid)
                    for iid in images_pdf.image_id[inside])
    exp = pd.DataFrame(rows, columns=["poly_id", "image_id"]) \
        .sort_values(["poly_id", "image_id"]).reset_index(drop=True)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, exp)


def test_pip_join_dataframe_matches_pandas_input(spark, calc, images_pdf):
    # pandas and DataFrame polygons run the same edge-band plan and
    # both return the brute-force pairs
    polys = FX.make_polygons_pdf(80)
    exp = _pip_brute(images_pdf, polys)
    assert len(exp) > 0
    a = _sorted(SJ.pip_join(calc, polys), ["poly_id", "image_id"])
    b = _sorted(SJ.pip_join(calc, spark.createDataFrame(polys)),
                ["poly_id", "image_id"])
    pd.testing.assert_frame_equal(a, exp)
    pd.testing.assert_frame_equal(b, exp)


def test_pip_join_batch_large_polygon_set(spark, calc, images_pdf):
    # 6*10^3 polygons as a DataFrame (distributed cover + edge-band
    # refine, nothing on the driver) equal the ray-crossing oracle
    polys = FX.make_polygons_pdf(6_000, seed=31)
    got = _sorted(SJ.pip_join(calc, spark.createDataFrame(polys)),
                  ["poly_id", "image_id"])
    plon = images_pdf.lon.to_numpy(np.float64)
    plat = images_pdf.lat.to_numpy(np.float64)
    rows = []
    for p in polys.itertuples(index=False):
        m = ((plon >= p.minlon) & (plon <= p.maxlon)
             & (plat >= p.minlat) & (plat <= p.maxlat))
        if not m.any():
            continue
        inside = K.points_in_polygon(
            plon[m], plat[m],
            np.asarray(p.verts_lon, np.float64),
            np.asarray(p.verts_lat, np.float64))
        rows.extend((p.poly_id, iid)
                    for iid in images_pdf.image_id.values[m][inside])
    exp = pd.DataFrame(rows, columns=["poly_id", "image_id"]) \
        .sort_values(["poly_id", "image_id"]).reset_index(drop=True)
    assert len(exp) > 0
    pd.testing.assert_frame_equal(got, exp)


def _knn_brute(pts: pd.DataFrame, queries: pd.DataFrame,
               point_id: str = "image_id") -> pd.DataFrame:
    """(qid, rank, point_id): the k nearest points per query by haversine
    distance over every point, ties by ascending id."""
    rows = []
    for q in queries.itertuples(index=False):
        d = K.haversine_m(pts.lon.values, pts.lat.values, q.lon, q.lat)
        order = np.lexsort((pts[point_id].values, d))[: q.k]
        rows.extend((q.qid, r + 1, pts[point_id].iloc[j])
                    for r, j in enumerate(order))
    return pd.DataFrame(rows, columns=["qid", "rank", point_id]) \
        .sort_values(["qid", "rank"]).reset_index(drop=True)


def _knn_both(spark, pts, queries: pd.DataFrame, **kw) -> list:
    """knn_join's output for pandas queries (radii on the driver) and for
    the same queries as a DataFrame (radii in mapInPandas), sorted."""
    return [SJ.knn_join(pts, q, **kw).toPandas()
            .sort_values(["qid", "rank"]).reset_index(drop=True)
            for q in (queries, spark.createDataFrame(queries))]


def test_knn_join_exact(spark, calc, images_pdf):
    queries = FX.make_knn_queries_pdf(25)
    got = SJ.knn_join(calc, queries).toPandas() \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    assert (got.groupby("qid")["rank"].max().sort_index().values
            == queries.sort_values("qid").k.values).all()
    pd.testing.assert_frame_equal(
        got[["qid", "rank", "image_id"]], _knn_brute(images_pdf, queries),
        check_dtype=False)


def test_knn_join_dataframe_matches_pandas_input(spark, calc, images_pdf):
    # both radius paths return the same rows (distances included), and
    # each equals brute force
    queries = FX.make_knn_queries_pdf(25)
    pdf_in, df_in = _knn_both(spark, calc, queries)
    pd.testing.assert_frame_equal(pdf_in, df_in, check_dtype=False)
    pd.testing.assert_frame_equal(
        df_in[["qid", "rank", "image_id"]], _knn_brute(images_pdf, queries),
        check_dtype=False)


def test_knn_join_batch_large_query_set(spark, calc, images_pdf):
    # 10^5 queries resolved in one plan, FULL equality vs a vectorized
    # brute-force oracle, for pandas and for DataFrame queries
    rng = np.random.default_rng(99)
    nq = 100_000
    qpdf = pd.DataFrame({
        "qid": np.arange(nq),
        "lon": rng.integers(-1_700_000_000, 1_700_000_000, nq),
        "lat": rng.integers(-750_000_000, 750_000_000, nq),
        "k": rng.choice([1, 3, 5], nq).astype(np.int64),
    })
    # oracle: image_id is zero-padded ("img{i:012d}") so the engine's
    # (dist asc, image_id asc) tie-break equals (dist asc, index asc) —
    # lexsort on (candidate index, distance) reproduces it exactly.
    plon = images_pdf.lon.to_numpy(np.int64)
    plat = images_pdf.lat.to_numpy(np.int64)
    ids = images_pdf.image_id.to_numpy()
    KW = 16  # candidate width; boundary guard below proves it suffices
    exp_qid, exp_rank, exp_id = [], [], []
    CH = 2000
    for lo in range(0, nq, CH):
        hi = min(nq, lo + CH)
        d = K.haversine_m(plon[None, :], plat[None, :],
                          qpdf.lon.values[lo:hi, None],
                          qpdf.lat.values[lo:hi, None])
        part = np.argpartition(d, KW, axis=1)[:, :KW + 1]
        dsub = np.take_along_axis(d, part, axis=1)
        for r in range(hi - lo):
            k = int(qpdf.k.values[lo + r])
            o = np.lexsort((part[r, :KW], dsub[r, :KW]))[:k]
            # any excluded point is >= the partition boundary value; the
            # kept k-th must be strictly below it or a cross-boundary
            # distance tie could reorder by id
            assert dsub[r][o[-1]] < dsub[r, KW]
            exp_qid.extend([lo + r] * k)
            exp_rank.extend(range(1, k + 1))
            exp_id.extend(ids[part[r, :KW][o]])
    exp = pd.DataFrame({"qid": exp_qid, "rank": exp_rank,
                        "image_id": exp_id})
    for got in _knn_both(spark, calc, qpdf):
        pd.testing.assert_frame_equal(
            got[["qid", "rank", "image_id"]], exp, check_dtype=False)


def test_knn_high_latitude_sparse_exact(spark):
    # regression for the latitude-tight ring bounds (README perf rule 18):
    # sparse points confined to |lat| in [75, 84.5] deg force wide rings
    # whose exclusion test is decided by the zonal cross-track term
    # R*asin(cos(lat_q)*sin(dlam)) — the regime where the old linear
    # bound's slack (equator-scale `need`) used to hide its
    # overestimate.  Both input types must equal brute force exactly.
    rng = np.random.default_rng(7)
    npts = 300
    lat_deg = rng.uniform(75.0, 84.5, npts) * rng.choice([-1, 1], npts)
    pdf = pd.DataFrame({
        "pid": [f"p{i:06d}" for i in range(npts)],
        "lon": rng.integers(-1_799_999_999, 1_800_000_000, npts),
        "lat": np.round(lat_deg * 1e7).astype(np.int64),
    })
    nq = 40
    qlat = rng.uniform(76.0, 84.0, nq) * rng.choice([-1, 1], nq)
    qpdf = pd.DataFrame({
        "qid": np.arange(nq),
        "lon": rng.integers(-1_799_999_999, 1_800_000_000, nq),
        "lat": np.round(qlat * 1e7).astype(np.int64),
        "k": np.tile(np.array([1, 5, 10], dtype=np.int64),
                     (nq + 2) // 3)[:nq],
    })
    exp = _knn_brute(pdf, qpdf, "pid")
    for got in _knn_both(spark, spark.createDataFrame(pdf), qpdf,
                         point_id="pid"):
        pd.testing.assert_frame_equal(
            got[["qid", "rank", "pid"]], exp, check_dtype=False)


def test_knn_k_exceeds_points(spark):
    # k above the point count takes what exists (the whole-grid ring):
    # every point comes back ranked, on both radius paths
    pdf = pd.DataFrame({
        "pid": [f"p{i}" for i in range(7)],
        "lon": np.array([-1_799_000_000, -600_000_000, 0, 5, 450_000_000,
                         1_200_000_000, 1_799_999_999], dtype=np.int64),
        "lat": np.array([-840_000_000, -300_000_000, 0, 0, 400_000_000,
                         845_000_000, 100_000_000], dtype=np.int64),
    })
    qpdf = pd.DataFrame({
        "qid": np.arange(4),
        "lon": np.array([0, 1_790_000_000, -1_000_000_000, 300_000_000],
                        dtype=np.int64),
        "lat": np.array([0, 800_000_000, -849_000_000, 200_000_000],
                        dtype=np.int64),
        "k": np.array([10, 10, 10, 2], dtype=np.int64),
    })
    exp = _knn_brute(pdf, qpdf, "pid")
    assert (exp.groupby("qid").size().values == [7, 7, 7, 2]).all()
    for got in _knn_both(spark, spark.createDataFrame(pdf), qpdf,
                         point_id="pid"):
        pd.testing.assert_frame_equal(
            got[["qid", "rank", "pid"]], exp, check_dtype=False)


def test_box_counts_match_slice_sum():
    # the integral-image ring count that sizes both radius paths equals a
    # direct slice-sum, across the antimeridian wrap and with 2r+1 >= n
    rng = np.random.default_rng(11)
    for n in (1, 2, 5, 8, 16):
        grid = rng.integers(0, 5, (n, n))
        integ = np.zeros((n + 1, n + 1), dtype=np.int64)
        integ[1:, 1:] = grid.cumsum(0).cumsum(1)
        cx, cy, r = (a.ravel() for a in np.meshgrid(
            np.arange(n), np.arange(n), np.arange(n + 2), indexing="ij"))
        exp = [np.roll(grid, r_ - x, axis=0)[:min(2 * r_ + 1, n),
                                             max(0, y - r_):y + r_ + 1].sum()
               for x, y, r_ in zip(cx, cy, r)]
        np.testing.assert_array_equal(SJ._box_counts(integ, n, cx, cy, r),
                                      exp)


def test_knn_empty_region_expands(spark, calc):
    # a query at an extreme corner (few points nearby) must still return k
    q = pd.DataFrame({"qid": [0], "lon": [-1_799_000_000],
                      "lat": [-849_000_000], "k": [5]})
    got = SJ.knn_join(calc, q).toPandas()
    assert len(got) == 5


def test_raster_vector_assign(spark, calc, images_pdf):
    got = SJ.raster_vector_assign(calc).toPandas() \
        .sort_values(["qt_raster", "cell"]).reset_index(drop=True)
    qtp = K.calcqts_point(images_pdf.lon.values, images_pdf.lat.values, 18)
    exp = pd.DataFrame({
        "qt_raster": K.qt_round(qtp, 10),
        "cell": K.qt_round(qtp, 7),
    }).drop_duplicates().sort_values(["qt_raster", "cell"]) \
        .reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    # every raster tile maps to exactly one covering cell (nested grids)
    assert got.groupby("qt_raster").size().max() == 1


# ---- hot-cell skew fixtures (SURVEY §7 risk 3; VERDICT r04 item 3) ----
# A dense city block at 100TB scale = 10^5+ queries stacked over ONE
# depth-8 cover cell: the cell_cov equi-join key is maximally skewed.
# These pin (a) DataFrame-input output == brute force on exactly that
# shape, and (b) that AQE's skew-join split actually engages on the hot cell
# once the cover stream is too big to broadcast (forced here by conf so
# the mechanism is exercised at test scale; thresholds are the knobs a
# 100TB deployment would leave at their defaults of 256MB/64MB).

from contextlib import contextmanager


@contextmanager
def _forced_shuffle_skew(spark):
    """Disable broadcast + shrink AQE skew thresholds so the test-scale
    hot cell takes the same code path a cluster-scale one would."""
    keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _executed_plan(df) -> str:
    """Final adaptive plan — only meaningful AFTER collect() on df."""
    return df._jdf.queryExecution().executedPlan().toString()


def _hot_boxes(images_pdf, nb: int = 100_000) -> pd.DataFrame:
    """nb boxes all overlapping the depth-8 cell of one anchor point."""
    rng = np.random.default_rng(7)
    c = images_pdf.iloc[0]
    w = rng.integers(10_000, 2_500_000, nb)
    h = rng.integers(10_000, 2_500_000, nb)
    jx = rng.integers(-100_000, 100_000, nb)
    jy = rng.integers(-100_000, 100_000, nb)
    return pd.DataFrame({
        "qid": np.arange(nb),
        "minlon": int(c.lon) + jx - w, "minlat": int(c.lat) + jy - h,
        "maxlon": int(c.lon) + jx + w, "maxlat": int(c.lat) + jy + h,
    })


def test_bbox_join_batch_hot_cell_skew(spark, calc, images_pdf):
    boxes = _hot_boxes(images_pdf)
    # the stack really is one hot cell (>95% of cover rows on one key)
    cov = SJ._cover(spark.createDataFrame(boxes), "qid")
    counts = cov.groupBy("cell_cov").count().toPandas()["count"]
    assert counts.max() / counts.sum() > 0.95

    exp = _bbox_brute(images_pdf, boxes)
    assert len(exp) > 0
    with _forced_shuffle_skew(spark):
        batch = SJ.bbox_join(calc, spark.createDataFrame(boxes))
        got = pd.DataFrame(
            batch.collect(), columns=["qid", "image_id"]) \
            .sort_values(["qid", "image_id"]).reset_index(drop=True)
        plan = _executed_plan(batch)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, "AQE skew split did not engage"
    assert "skewed" in plan  # AQEShuffleRead ... skewed


def test_pip_join_batch_hot_polygon_skew(spark, calc, images_pdf):
    # 2*10^4 small polygons stacked around one anchor point: the
    # candidate equi-join on cell_cov is hot on that point's cell
    rng = np.random.default_rng(11)
    c = images_pdf.iloc[0]
    rows = []
    for j in range(20_000):
        nv = int(rng.integers(4, 9))
        radius = float(rng.uniform(0.001, 0.05)) * 1e7
        cx = int(c.lon) + int(rng.integers(-500_000, 500_000))
        cy = int(c.lat) + int(rng.integers(-500_000, 500_000))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        vx = np.round(cx + radius * np.cos(ang)).astype(np.int64)
        vy = np.round(cy + radius * np.sin(ang)).astype(np.int64)
        rows.append({
            "poly_id": f"hot{j:06d}",
            "verts_lon": vx.tolist(), "verts_lat": vy.tolist(),
            "minlon": int(vx.min()), "minlat": int(vy.min()),
            "maxlon": int(vx.max()), "maxlat": int(vy.max()),
        })
    polys = pd.DataFrame(rows)

    exp = _pip_brute(images_pdf, polys)
    assert len(exp) > 0
    with _forced_shuffle_skew(spark):
        batch = SJ.pip_join(calc, spark.createDataFrame(polys))
        got = pd.DataFrame(
            batch.collect(), columns=["poly_id", "image_id"]) \
            .sort_values(["poly_id", "image_id"]).reset_index(drop=True)
        plan = _executed_plan(batch)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, "AQE skew split did not engage"
