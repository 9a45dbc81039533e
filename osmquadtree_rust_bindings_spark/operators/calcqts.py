"""run_calcqts — quadtree key assignment (the flagship computation).

Reference: ``run_calcqts(fname, qts_filename, max_qt_level=18,
qt_buffer=0.05, ...)`` (/root/reference/osmquadtree_rust_bindings/
__init__.py:183-185; rust signature src/sortblocks.rs:7-21).  Semantics per
SURVEY.md §2.7/§8:

- node-like payload (points):  qt = deepest cell at max level containing it
- way-like payload (bboxes):   qt = deepest cell whose 0.05-buffer-expanded
                               extent contains the bbox
- relation-like rollup:        qt = lowest common ancestor of member qts

For the image table the point is derived from phash bits and the bbox is the
point buffered by (w, h) at a fixed ground resolution (FIXTURES.md §1.1), so
both passes are pure per-row Column algebra — zero shuffle, zero Python.
The LCA rollup needs only min/max per group because the key layout makes
LCA(set) == LCA(min, max) under i64 order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark import kernels as K
from osmquadtree_rust_bindings_spark.functions import quadtree as Q

GROUND_RES = 10_000  # 1e-7 deg per pixel (FIXTURES.md §1.1)
MAX_QT_LEVEL = K.MAX_DEPTH
CELL_LEVEL = 7  # the coarse index: qt_point's ancestor at this depth


def with_lonlat_from_phash(df: DataFrame, phash: str = "phash") -> DataFrame:
    """Derived geolocation (FIXTURES.md §1.1) as Column algebra."""
    hi = F.shiftrightunsigned(F.col(phash), 32).bitwiseAND(F.lit(0xFFFFFFFF))
    lo = F.col(phash).bitwiseAND(F.lit(0xFFFFFFFF))
    lon = (hi / 4294967296.0 * 3600000000).cast("long") - 1800000000
    lat = (lo / 4294967296.0 * 1700000000).cast("long") - 850000000
    return df.withColumns({"lon": lon, "lat": lat})


def with_footprint_bbox(df: DataFrame, ground_res: int = GROUND_RES) -> DataFrame:
    """Image footprint = point +- (w,h)*R/2 (the way-like payload)."""
    dw = (F.col("w").cast("long") * ground_res / 2).cast("long")
    dh = (F.col("h").cast("long") * ground_res / 2).cast("long")
    return df.withColumns({
        "minlon": F.col("lon") - dw, "maxlon": F.col("lon") + dw,
        "minlat": F.col("lat") - dh, "maxlat": F.col("lat") + dh,
    })


def qt_common_col(a: Column, b: Column) -> Column:
    """Lowest common ancestor of two qt keys as Column algebra.

    Prefix-match depth is monotone, so it is the SUM of 18 independent
    equality tests on rounded keys (same codegen-safe trick as the bbox
    descent); then round to that depth.
    """
    d = F.lit(0)
    for k in range(1, MAX_QT_LEVEL + 1):
        mask = -(1 << (63 - 2 * k))
        da = a.bitwiseAND(F.lit(31))
        db = b.bitwiseAND(F.lit(31))
        same = (
            (da >= k) & (db >= k)
            & (a.bitwiseAND(F.lit(mask)) == b.bitwiseAND(F.lit(mask)))
        )
        d = d + same.cast("int")
    return Q.qt_round_dyn(a, d)


def qt_common_agg(qt: Column) -> Column:
    """Aggregate LCA over a group: LCA(set) == LCA(min, max) because the
    key layout sorts depth-first spatially."""
    return qt_common_col(F.min(qt), F.max(qt))


def run_calcqts(images: DataFrame, max_qt_level: int = MAX_QT_LEVEL,
                ground_res: int = GROUND_RES) -> DataFrame:
    """images table -> + (lon, lat, qt, qt_point, cell).

    ``qt`` is the bbox-buffered key (drives tiling, like way qts);
    ``qt_point`` the max-depth point key; ``cell`` the coarse-index cell
    (depth-CELL_LEVEL ancestor — a morton/qt key usable for pruning).

    Pure Column algebra — whole-stage-codegen JVM math, shuffle-free
    (requires the -XX:-DontCompileHugeMethods JVM flag session.get_spark
    sets, or the 18-level descent method falls out of JIT).
    """
    df = with_lonlat_from_phash(images)
    df = with_footprint_bbox(df, ground_res)
    df = Q.with_bbox_qt(df, "minlon", "minlat", "maxlon", "maxlat",
                        max_depth=max_qt_level, out="qt")
    df = Q.with_point_qt(df, "lon", "lat", depth=max_qt_level,
                         out="qt_point")
    df = df.withColumn("cell", Q.qt_round(F.col("qt_point"), CELL_LEVEL))
    return df.drop("minlon", "minlat", "maxlon", "maxlat")
