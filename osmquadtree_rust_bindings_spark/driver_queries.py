"""Driver-contract queries: one entry per SURVEY.md §2 operator, each with a
DuckDB-oracle SQL twin.

Conventions that make the driver's hash compare exact:
- outputs carry only ints / strings (no raw floats — float sums reorder
  under Spark partial aggregation and differ from DuckDB by ulps);
- every numeric output column is cast to bigint on BOTH sides;
- all aggregates/computed columns are aliased identically on both sides;
- coordinate / qt math shares literal formula text via functions.sqlgen.

The synthetic geometry: the generic TPC-H tables carry no coordinates, so
spatial queries derive deterministic int-1e-7-degree points from row keys
with pure integer arithmetic (identical in both engines), mirroring the
phash->lonlat derivation of FIXTURES.md §1.1.
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark import kernels as _K
from osmquadtree_rust_bindings_spark.functions import quadtree as Q
from osmquadtree_rust_bindings_spark.functions import sqlgen
from osmquadtree_rust_bindings_spark.operators import count as CNT
from osmquadtree_rust_bindings_spark.operators import dedup as DD
from osmquadtree_rust_bindings_spark.operators import diff as DIFF
from osmquadtree_rust_bindings_spark.operators import similarity as SIM
from osmquadtree_rust_bindings_spark.operators import spatial_join as SJ
from osmquadtree_rust_bindings_spark.operators import text as TX
from osmquadtree_rust_bindings_spark.operators import tiling as TIL

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# ---------------------------------------------------------------- derived pts

# identical formula text for Spark selectExpr and DuckDB (floor then cast:
# duckdb's cast(double as bigint) ROUNDS, spark truncates — floor avoids both)
ROWKEY = "(l_orderkey * 8 + l_linenumber)"
LON = ("cast(floor((({rk} * 2654435761) % 4294967296) / 4.294967296e9 "
       "* 3.6e9) as bigint) - 1800000000").format(rk=ROWKEY)
LAT = ("cast(floor((({rk} * 40503 + 2654435769) % 4294967296) / 4.294967296e9 "
       "* 1.7e9) as bigint) - 850000000").format(rk=ROWKEY)
# footprint half-sizes (int 1e-7 deg), like w/h * ground_res / 2
HALFW = f"(({ROWKEY} % 97 + 1) * 80000)"
HALFH = f"(({ROWKEY} % 53 + 1) * 80000)"

# DISTINCT: the driver's lineitem contains duplicate (orderkey, linenumber)
# rows; all derived columns are functions of rowkey, so this dedups rowkey.
PTS_SQL = (f"SELECT DISTINCT {ROWKEY} AS rowkey, {LON} AS lon, {LAT} AS lat, "
           f"{HALFW} AS halfw, {HALFH} AS halfh FROM lineitem")

CUST_LON = ("cast(floor(((c_custkey * 2654435761) % 4294967296) "
            "/ 4.294967296e9 * 3.6e9) as bigint) - 1800000000")
CUST_LAT = ("cast(floor(((c_custkey * 40503 + 2654435769) % 4294967296) "
            "/ 4.294967296e9 * 1.7e9) as bigint) - 850000000")

BBOX_LIT = (-600_000_000, -300_000_000, 900_000_000, 500_000_000)


def _pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .createOrReplaceTempView("lineitem")
    return spark.sql(PTS_SQL)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@functools.cache
def _gate_root() -> str:
    """One scratch directory per process for every gate that writes files,
    removed at interpreter exit.  A gate cannot remove its own files: the
    DataFrame it returns reads them lazily, after the gate has returned."""
    root = tempfile.mkdtemp(prefix="osmqt_gates_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _gate_tmpdir(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix, dir=_gate_root())


def _conf_bytes(raw: str) -> int:
    """A Spark byte-size setting ('134217728', '128MB', '64m', '1g')."""
    s = raw.strip().lower()
    num = s.rstrip("bkmgtp")
    return int(num) << 10 * " kmgtp".index(s[len(num):].rstrip("b") or " ")


def _pts_with_qt(spark: SparkSession, sf_dir: str) -> DataFrame:
    return Q.with_point_qt(_pts(spark, sf_dir), "lon", "lat", 18,
                           out="qt_point")


# ---------------------------------------------------------------- fixtures
# literal workloads (seeded, tiny — inlined as VALUES in the oracle SQL)

def _bbox_queries() -> pd.DataFrame:
    rng = np.random.default_rng(421)
    rows = []
    for q in range(20):
        w = float(rng.uniform(0.5, 25.0))
        h = float(rng.uniform(0.5, 25.0))
        cx = float(rng.uniform(-165, 165))
        cy = float(rng.uniform(-70, 70))
        rows.append((q, int((cx - w / 2) * 1e7), int((cy - h / 2) * 1e7),
                     int((cx + w / 2) * 1e7), int((cy + h / 2) * 1e7)))
    return pd.DataFrame(rows, columns=["qid", "minlon", "minlat",
                                       "maxlon", "maxlat"])


def _polygons() -> pd.DataFrame:
    """Convex CCW polygons, radius 1-8 deg (big enough to catch points even
    at sf0.001 density)."""
    rng = np.random.default_rng(77)
    rows = []
    for j in range(12):
        nv = int(rng.integers(6, 13))
        radius = float(rng.uniform(1.0, 8.0))
        cx = float(rng.uniform(-160, 160))
        cy = float(rng.uniform(-70, 70))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        vx = np.round((cx + radius * np.cos(ang)) * 1e7).astype(np.int64)
        vy = np.round((cy + radius * np.sin(ang)) * 1e7).astype(np.int64)
        rows.append({
            "poly_id": f"poly{j:06d}",
            "verts_lon": vx.tolist(), "verts_lat": vy.tolist(),
            "minlon": int(vx.min()), "minlat": int(vy.min()),
            "maxlon": int(vx.max()), "maxlat": int(vy.max()),
        })
    return pd.DataFrame(rows)


def _knn_queries() -> pd.DataFrame:
    rng = np.random.default_rng(422)
    return pd.DataFrame({
        "qid": np.arange(10),
        "lon": rng.integers(-1_700_000_000, 1_700_000_000, 10),
        "lat": rng.integers(-750_000_000, 750_000_000, 10),
        "k": np.array([1, 5, 20, 5, 1, 20, 5, 1, 5, 20], dtype=np.int64),
    })


# ================================================================ queries ==

def q_a1_count_fingerprint(spark, sf_dir):
    pts = _pts(spark, sf_dir)
    return CNT.count_fingerprint(pts, id_col="rowkey").select(
        F.col("num").cast("long").alias("num"),
        F.col("min_id").cast("long").alias("min_id"),
        F.col("max_id").cast("long").alias("max_id"),
        F.col("min_lon").cast("long").alias("min_lon"),
        F.col("max_lon").cast("long").alias("max_lon"),
        F.col("min_lat").cast("long").alias("min_lat"),
        F.col("max_lat").cast("long").alias("max_lat"),
    )


def q_a5_count_by_group(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("num"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
    )


def q_a2_refs_stats(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    refs = li.groupBy("l_orderkey").agg(
        F.collect_list("l_linenumber").alias("refs"))
    out = CNT.count_refs_stats(refs)
    return out.select(*[F.col(c).cast("long").alias(c)
                        for c in out.columns])


def q_a3_members_stats(spark, sf_dir):
    # A3 relation Count stats (reference src/count.rs:217-250): orders play
    # relations, their >=4th lineitems the member lists — so many relations
    # are genuinely empty (num_empties > 0 exercises the empty arm)
    o = _read(spark, sf_dir, "orders")
    mem = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") >= 4)
        .groupBy("l_orderkey")
        .agg(F.collect_list("l_linenumber").alias("members"))
    )
    rel = o.join(mem, o.o_orderkey == mem.l_orderkey, "left").select(
        F.coalesce(F.col("members"),
                   F.array().cast("array<int>")).alias("members"))
    out = CNT.count_members_stats(rel)
    return out.select(*[F.col(c).cast("long").alias(c) for c in out.columns])


def _split_ceiling(spark: SparkSession, sizes: list[int]) -> int:
    """Number of file splits Spark cuts ``sizes`` into: each file in chunks
    of ``min(maxPartitionBytes, max(openCostInBytes, bytesPerCore))``, where
    bytesPerCore spreads every file plus its open cost over the minimum
    partition count (FilePartition.maxSplitBytes)."""
    import math

    conf = spark.conf.get
    max_pb = _conf_bytes(conf("spark.sql.files.maxPartitionBytes", "128m"))
    open_cost = _conf_bytes(conf("spark.sql.files.openCostInBytes", "4m"))
    min_parts = int(conf("spark.sql.files.minPartitionNum", None)
                    or conf("spark.sql.leafNodeDefaultParallelism", None)
                    or spark.sparkContext.defaultParallelism)
    per_core = (sum(sizes) + len(sizes) * open_cost) // min_parts
    split = min(max_pb, max(open_cost, per_core))
    return sum(math.ceil(sz / split) for sz in sizes)


def q_a4_num_blocks(spark, sf_dir):
    """A4 num_blocks (reference ``src/count.rs:352-355``): the raw
    partition count has no SQL twin (it depends on Spark's file-split
    packing), so the gate pins LAYOUT-INDEPENDENT invariants of it as a
    single derived row the DuckDB oracle can hash-match:

    - ``num_blocks_ge_1``: the scan produced at least one block;
    - ``num_blocks_le_rows``: every counted block held >=1 row (the
      distinct-partition-id formulation only sees non-empty partitions);
    - ``num_blocks_le_split_ceiling``: num_blocks <= the number of file
      splits, :func:`_split_ceiling` — Spark packs splits into
      partitions, never the reverse, so the split count is a hard ceiling
      computed here from the real file listing + live session conf (not
      a constant).

    Engine-side all three are computed from the actual plan; the oracle
    derives the same booleans from the one fact SQL can see (the table is
    non-empty).  A regression in partition enumeration (0 blocks, empty
    phantom blocks, or splits multiplying past the ceiling) flips a
    boolean and fails the hash."""
    import os as _os

    li = _read(spark, sf_dir, "lineitem")
    path = _os.path.join(sf_dir, "lineitem.parquet")
    if _os.path.isdir(path):
        sizes = [_os.path.getsize(_os.path.join(path, f))
                 for f in _os.listdir(path) if f.endswith(".parquet")]
    else:
        sizes = [_os.path.getsize(path)]
    ceiling = _split_ceiling(spark, sizes)
    nb = CNT.num_blocks(li)
    rows = li.agg(F.count(F.lit(1)).alias("n_rows"))
    return nb.crossJoin(rows).select(
        (F.col("num_blocks") >= 1).alias("num_blocks_ge_1"),
        (F.col("num_blocks") <= F.col("n_rows")).alias("num_blocks_le_rows"),
        (F.col("num_blocks") <= F.lit(ceiling))
        .alias("num_blocks_le_split_ceiling"),
    )


def q_x_qt_common_rollup(spark, sf_dir):
    # §2.7 step 3 — relation LCA rollup: member point qts -> lowest common
    # ancestor per group via qt_common_agg (reference Quadtree::common,
    # src/elements.rs:46-65); LCA(set) == LCA(min, max) under i64 order
    from osmquadtree_rust_bindings_spark.operators import calcqts as CQ

    pts = _pts_with_qt(spark, sf_dir)
    nodes = pts.select((F.col("rowkey") / 8).cast("long").alias("way_id"),
                       "qt_point")
    return nodes.groupBy("way_id").agg(
        CQ.qt_common_agg(F.col("qt_point")).alias("qt_group")).select(
        F.col("way_id").cast("long").alias("way_id"), "qt_group")


def q_x9_feature_bounds(spark, sf_dir):
    # X9 prep_bounds (reference src/geometry.rs:185-193): per-way bbox over
    # the positioned node stream — one partial-agg groupBy
    from osmquadtree_rust_bindings_spark.operators import geometry as G

    pts = _pts(spark, sf_dir)
    nodes = pts.select((F.col("rowkey") / 8).cast("long").alias("way_id"),
                       "lon", "lat")
    out = G.feature_bounds(nodes)
    return out.select(*[F.col(c).cast("long").alias(c) for c in out.columns])


def q_x10b_point_geojson(spark, sf_dir):
    # X10 point-feature serialization (reference to_geojson over Point,
    # src/geometry.rs:243-253): decimal-degree coords via the shared
    # integer fixed7 formatter — no float printf on either engine
    _pts(spark, sf_dir).createOrReplaceTempView("__pts_x10b")
    return spark.sql(sqlgen.feature_point_geojson_sql(
        "__pts_x10b", "rowkey", "lon", "lat"))


def _fixed7_col(v):
    a = F.abs(v)
    return F.concat(
        F.when(v < 0, F.lit("-")).otherwise(F.lit("")),
        F.floor(a / F.lit(1e7)).cast("long").cast("string"), F.lit("."),
        F.lpad((a % 10000000).cast("string"), 7, "0"))


def q_x10c_linestring_geojson(spark, sf_dir):
    # X10 linestring-feature serialization over the J7 way assembly:
    # Column-algebra array fold on the engine side vs an independent
    # string_agg formulation in the oracle; coordinate text shared
    pts = _pts(spark, sf_dir)
    nodes = pts.select(
        (F.col("rowkey") / 8).cast("long").alias("way_id"),
        (F.col("rowkey") % 8).cast("int").alias("pos"), "lon", "lat")
    ways = nodes.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "lon", "lat")))
        .alias("line"))
    body = F.array_join(
        F.transform("line", lambda v: F.concat(
            F.lit("["), _fixed7_col(v.lon), F.lit(","),
            _fixed7_col(v.lat), F.lit("]"))), ",")
    return ways.select(
        "way_id",
        F.concat(F.lit('{"type":"Feature","properties":{"id":'),
                 F.col("way_id").cast("string"),
                 F.lit('},"geometry":{"type":"LineString","coordinates":['),
                 body, F.lit(']}}')).alias("geojson"))


def q_x11_wkb_point(spark, sf_dir):
    # X11 EWKB point (reference wkb(transform, srid), src/geometry.rs:
    # 255-257): mercator ints (shared sqlgen fragment) -> EWKB srid=3857,
    # compared as hex.  scale=1.0 keeps every double integer-valued, so
    # the oracle reconstructs the IEEE-754 bytes exactly with integer SQL.
    from osmquadtree_rust_bindings_spark.functions import wkb as W

    pts = _pts(spark, sf_dir)
    m = pts.select(F.col("rowkey").cast("long").alias("id"),
                   F.expr(sqlgen.merc_x_expr("lon")).alias("mx"),
                   F.expr(sqlgen.merc_y_expr("lat")).alias("my"))
    return m.select(
        "id",
        F.hex(W.point_wkb(F.col("mx"), F.col("my"), transform=False,
                          srid=3857, scale=1.0)).alias("wkb_hex"))


def q_x11_wkb_line(spark, sf_dir):
    # X11 EWKB linestring over the J7 way assembly (reference
    # src/geometry.rs:384-386), mercator-int vertices, hex-compared
    from osmquadtree_rust_bindings_spark.functions import wkb as W

    pts = _pts(spark, sf_dir)
    nodes = pts.select(
        (F.col("rowkey") / 8).cast("long").alias("way_id"),
        (F.col("rowkey") % 8).cast("int").alias("pos"),
        F.expr(sqlgen.merc_x_expr("lon")).alias("mx"),
        F.expr(sqlgen.merc_y_expr("lat")).alias("my"))
    ways = nodes.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "mx", "my")))
        .alias("line"))
    return ways.select(
        "way_id",
        F.hex(W.linestring_wkb(
            F.transform("line", lambda v: v.mx),
            F.transform("line", lambda v: v.my),
            transform=False, srid=3857, scale=1.0)).alias("wkb_hex"))


def q_x11_wkb_poly(spark, sf_dir):
    # X11 EWKB single-ring polygon (reference src/geometry.rs:507-509):
    # way vertices as the ring, auto-closed (first vertex appended —
    # derived way coords are always distinct), mercator ints, hex-compared
    from osmquadtree_rust_bindings_spark.functions import wkb as W

    pts = _pts(spark, sf_dir)
    nodes = pts.select(
        (F.col("rowkey") / 8).cast("long").alias("way_id"),
        (F.col("rowkey") % 8).cast("int").alias("pos"),
        F.expr(sqlgen.merc_x_expr("lon")).alias("mx"),
        F.expr(sqlgen.merc_y_expr("lat")).alias("my"))
    ways = nodes.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "mx", "my")))
        .alias("line"))
    return ways.select(
        "way_id",
        F.hex(W.polygon_wkb(
            F.transform("line", lambda v: v.mx),
            F.transform("line", lambda v: v.my),
            transform=False, srid=3857, scale=1.0)).alias("wkb_hex"))


_HW_VALS = ["motorway", "trunk", "primary", "secondary", "tertiary",
            "residential", "unclassified", "service", "path"]
_WW_VALS = ["river", "canal", "stream", "drain"]


def q_x16_style_attrs(spark, sf_dir):
    # X16 prep_style/prep_minzoom (reference src/geometry.rs:709-758,
    # 816-825): a deterministic tags map per part row (one feature key by
    # partkey mod 5, optional layer tag) -> (layer, z_order, minzoom)
    # render attributes via the pinned default style, all codegen CASEs
    from osmquadtree_rust_bindings_spark.functions import style as ST

    p = _read(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("id"),
        (F.col("p_partkey") % 5).alias("mode"),
        F.element_at(F.array(*[F.lit(v) for v in _HW_VALS]),
                     (F.col("p_partkey") % 9 + 1).cast("int")).alias("hw"),
        F.element_at(F.array(*[F.lit(v) for v in _WW_VALS]),
                     (F.col("p_partkey") % 4 + 1).cast("int")).alias("ww"),
        (F.col("p_partkey") % 7 - 3).cast("string").alias("lyr"),
        (F.col("p_partkey") % 2).alias("has_layer"))
    fkey = (F.when(F.col("mode") == 0, F.lit("highway"))
            .when(F.col("mode") == 1, F.lit("waterway"))
            .when(F.col("mode") == 2, F.lit("building"))
            .when(F.col("mode") == 3, F.lit("landuse"))
            .otherwise(F.lit("name")))
    fval = (F.when(F.col("mode") == 0, F.col("hw"))
            .when(F.col("mode") == 1, F.col("ww"))
            .when(F.col("mode") == 2, F.lit("yes"))
            .when(F.col("mode") == 3, F.lit("forest"))
            .otherwise(F.lit("x")))
    tagged = p.select(
        "id",
        F.map_from_arrays(
            F.when(F.col("has_layer") == 1,
                   F.array(fkey, F.lit("layer")))
            .otherwise(F.array(fkey)),
            F.when(F.col("has_layer") == 1, F.array(fval, F.col("lyr")))
            .otherwise(F.array(fval))).alias("tags"))
    out = ST.with_render_attrs(tagged)
    return out.select(
        "id", F.col("layer").cast("long").alias("layer"),
        F.col("z_order").cast("long").alias("z_order"),
        F.coalesce(F.col("minzoom"), F.lit(-1)).cast("long")
        .alias("minzoom"))


def q_s12_filtered_merge(spark, sf_dir):
    # S12 write_merged (reference src/readpbf.rs:675-682): base + change
    # snapshots -> latest-wins merge, IdSet semi-join + bbox filter, write
    # as a new snapshot, read back.  The WRITE is real (temp catalog);
    # the read-back contents are fully SQL-replayable -> hash gate.
    from osmquadtree_rust_bindings_spark.sources.catalog import Catalog

    pts = _pts(spark, sf_dir)
    cat = Catalog(_gate_tmpdir("s12_"))
    base = pts.select("rowkey", F.lit(1).alias("version"), "lon", "lat")
    cat.write(base, "t")
    chg = base.filter(F.col("rowkey") % 3 == 0) \
        .withColumn("version", F.lit(2))
    cat.write(chg, "t", mode="append")
    ids = pts.filter(F.col("rowkey") % 2 == 0).select("rowkey")
    cat.write_merged(spark, "t", "t_out", key=["rowkey"], ids=ids,
                     bbox=BBOX_LIT, sort=True)
    out = cat.read(spark, "t_out")
    return out.select(*[F.col(c).cast("long").alias(c)
                        for c in ["rowkey", "version", "lon", "lat"]])


def q_x14_enum_codecs(spark, sf_dir):
    # X14 changetype/elementtype codecs (reference *_from_str,
    # src/elements.rs:558-598): mixed-case aliases + full names + an
    # unknown decoded over the orders table; null (the error sentinel)
    # mapped to 'invalid' so the gate carries no null column
    from osmquadtree_rust_bindings_spark.functions import format as FMT

    cts = ["n", "Delete", "REMOVE", "modify", "u", "C", "bogus"]
    ets = ["n", "Way", "RELATION", "node", "w", "r", "x"]
    o = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("id"),
        F.element_at(F.array(*[F.lit(v) for v in cts]),
                     (F.col("o_orderkey") % 7 + 1).cast("int")).alias("ct"),
        F.element_at(F.array(*[F.lit(v) for v in ets]),
                     (F.col("o_orderkey") % 7 + 1).cast("int")).alias("et"))
    return o.select(
        "id",
        F.coalesce(FMT.changetype_decode(F.col("ct")), F.lit("invalid"))
        .alias("changetype"),
        F.coalesce(FMT.elementtype_decode(F.col("et")), F.lit("invalid"))
        .alias("elementtype"),
        F.coalesce(FMT.elementtype_encode(
            FMT.elementtype_decode(F.col("et"))), F.lit("?"))
        .alias("et_short"),
        # X13 human formatters (reference __init__.py:29-39, 127-133) on
        # derived sizes/durations covering every branch: negative -> '??',
        # b / kb / Mb / Gb thresholds, <90s and m+s forms.  The size is
        # always ODD (odd*odd mod even) so num/1024^k can never hit an
        # exact .x5 decimal tie (ties need num = 2^k*5^j*odd with k>=8) —
        # the one case where Java HALF_UP and C round-to-nearest disagree
        FMT.bytes_str_col(
            F.when(F.col("id") % 31 == 0, F.lit(-1))
            .otherwise(((F.col("id") * 2 + 1) * 977) % 4000000000))
        .alias("size_s"),
        FMT.min_sec_str_col(((F.col("id") * 13) % 7200).cast("double"))
        .alias("dur_s"))


def q_f7_asof_read(spark, sf_dir):
    # F7/S5 time-travel read (reference 'change files <= timestamp'
    # selection, src/readpbf.rs:585-590): three snapshots written to a
    # temp catalog, read back as-of snapshot 2 (latest excluded), merged
    # latest-wins.  Fully SQL-replayable.
    from osmquadtree_rust_bindings_spark.operators.diff import merge_latest
    from osmquadtree_rust_bindings_spark.sources.catalog import Catalog

    pts = _pts(spark, sf_dir)
    cat = Catalog(_gate_tmpdir("f7_"))
    base = pts.select("rowkey", F.lit(1).alias("version"), "lon")
    cat.write(base, "t")
    cat.write(base.filter(F.col("rowkey") % 5 == 0)
              .withColumn("version", F.lit(2)), "t", mode="append")
    cat.write(base.filter(F.col("rowkey") % 7 == 0)
              .withColumn("version", F.lit(3)), "t", mode="append")
    asof = merge_latest(cat.read(spark, "t", as_of=1), ["rowkey"])
    return asof.select(*[F.col(c).cast("long").alias(c)
                         for c in ["rowkey", "version", "lon"]])


def q_s28_stream_window(spark, sf_dir):
    # §2.8 streaming-native MERGED gate, shape (kind, k1, k2, n):
    # - kind='window': event-time tumbling windows + watermark over a
    #   readStream source, drained with availableNow (the replication-
    #   cursor model: a restarted stream resumes after the last committed
    #   batch); k1=win_start epoch, k2=event_type.
    # - kind='bloom_first_seen': the Bloom-state stateful dedup
    #   (streaming/ingest.stream_first_seen, state_mode='bloom') drained
    #   across TWO overlapping availableNow rounds sharing one
    #   checkpoint: round 1 delivers events with event_id % 3 != 0,
    #   round 2 re-delivers everything — re-delivered keys must be
    #   suppressed by the persisted fixed-size Bloom state, so the
    #   emitted set is exactly the distinct keys.  Hash-exact because the
    #   Bloom is deterministic and, at this capacity (m=2^20, k=7, n of
    #   order 10^3-10^4 per group), the false-positive set is empty —
    #   a single fp would drop an emission and break the hash, so the
    #   gate pins zero-fp at the configured capacity; k1=tile group.
    import os
    import uuid

    # FileStreamSource requires a directory; expose the single parquet
    # file through a symlinked temp dir (no data copy)
    d = _gate_tmpdir("s28_")
    os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"),
               os.path.join(d, "events.parquet"))
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    src = (spark.readStream.schema(schema).format("parquet").load(d))
    agg = (src.withWatermark("ts", "30 minutes")
           .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
           .agg(F.count(F.lit(1)).alias("n")))
    qname = "s28mem" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(qname)
         .outputMode("complete").trigger(availableNow=True).start())
    # availableNow self-terminates; an unfinished drain would leave a
    # PARTIAL memory table that hash-mismatches nondeterministically, so
    # a timeout here must be an error, never a silent fall-through
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("s28 availableNow drain did not finish in 300s")
    win = spark.table(qname).select(
        F.lit("window").alias("kind"),
        F.unix_timestamp(F.col("w.start")).cast("long").alias("k1"),
        F.col("event_type").alias("k2"),
        F.col("n").cast("long").alias("n"))

    from osmquadtree_rust_bindings_spark.streaming import ingest as ING

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("image_id"),
        F.col("user_id").cast("long").alias("uid"),
        (F.col("user_id") % 8).cast("long").alias("tile"),
        F.col("event_id"))
    d2 = _gate_tmpdir("s28b_")
    bsrc = os.path.join(d2, "src")
    bout = os.path.join(d2, "out")
    bckp = os.path.join(d2, "ckp")

    def drain(batch_df):
        batch_df.select("image_id", "tile").write.mode("append") \
            .parquet(bsrc)
        stream = (spark.readStream.schema("image_id string, tile long")
                  .format("parquet").load(bsrc))
        qq = (ING.stream_first_seen(stream, timeout_ms=None,
                                    state_mode="bloom",
                                    bloom_bits=1 << 20)
              .writeStream.format("parquet").option("path", bout)
              .option("checkpointLocation", bckp)
              .trigger(availableNow=True).start())
        if not qq.awaitTermination(300):
            qq.stop()
            raise TimeoutError(
                "s28 bloom drain did not finish in 300s")

    drain(ev.filter(F.col("event_id") % 3 != 0))
    drain(ev)
    bloom = (spark.read.parquet(bout)
             .groupBy("tile").agg(F.count(F.lit(1)).alias("n"))
             .select(F.lit("bloom_first_seen").alias("kind"),
                     F.col("tile").cast("long").alias("k1"),
                     F.lit("").alias("k2"),
                     F.col("n").cast("long").alias("n")))
    return win.unionByName(bloom)


def q_x7_time_rollup(spark, sf_dir):
    # X7 timestamp parse (rollup keys) + the timestamp_string/date_string
    # formatting helpers (reference src/count.rs:578-580) exercised on the
    # rollup's min/max timestamps
    ev = _read(spark, sf_dir, "events")
    return (
        ev.withColumn("ym", (F.year("ts") * 100 + F.month("ts")).cast("long"))
        .groupBy("ym").agg(
            F.count(F.lit(1)).cast("long").alias("num"),
            F.min("event_id").cast("long").alias("min_id"),
            F.date_format(F.min("ts"), "yyyy-MM-dd").alias("first_d"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("last_ts_s"))
    )


def q_j3_merge_latest(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    base = o.select("o_orderkey", F.lit(0).cast("long").alias("version"))
    change = o.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey", F.lit(1).cast("long").alias("version"))
    merged = DIFF.merge_latest(base.unionByName(change), ["o_orderkey"])
    return merged.select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                         F.col("version").alias("src"))


def q_j5_apply_changes(spark, sf_dir):
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.lit("normal").alias("changetype"))
    ch = (
        _read(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.lit("X-PRIORITY").alias("o_orderpriority"),
            F.when(F.col("o_orderkey") % 2 == 0, "delete")
            .otherwise("modify").alias("changetype"))
    )
    out = DIFF.apply_changes(o, ch, ["o_orderkey"])
    return out.select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                      "o_orderpriority")


def q_j6_diff_summary(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    left = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    right = (
        o.filter(F.col("o_orderkey") % 3 != 0)
        .withColumn("o_totalprice",
                    F.when(F.col("o_orderkey") % 11 == 0,
                           F.col("o_totalprice") + 1)
                    .otherwise(F.col("o_totalprice")))
    )
    return DIFF.diff_summary(left, right, ["o_orderkey"],
                             ["o_totalprice", "o_orderstatus"]).select(
        "diff_class", F.col("count").cast("long").alias("num"))


def q_j1_semi_join_cascade(spark, sf_dir):
    cust = _read(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS id", f"{CUST_LON} AS lon", f"{CUST_LAT} AS lat")
    orders = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.array(F.col("o_custkey")).alias("refs"))
    res = CNT.semi_join_cascade(cust, orders, BBOX_LIT)
    return res["container_ids"].select(
        F.col("cid").cast("long").alias("o_orderkey"))


def q_x1_point_qt(spark, sf_dir):
    pts = _pts_with_qt(spark, sf_dir)
    return pts.select(F.col("rowkey").cast("long").alias("rowkey"),
                      F.col("qt_point").alias("qt"))


def q_x2_bbox_qt_depth_hist(spark, sf_dir):
    pts = _pts(spark, sf_dir).selectExpr(
        "rowkey", "lon - halfw AS minlon", "lat - halfh AS minlat",
        "lon + halfw AS maxlon", "lat + halfh AS maxlat")
    boxed = Q.with_bbox_qt(pts, "minlon", "minlat", "maxlon", "maxlat")
    return (
        boxed.select(Q.qt_depth(F.col("qt")).cast("long").alias("depth"))
        .groupBy("depth").agg(F.count(F.lit(1)).cast("long").alias("num"))
    )


def q_s14_tile_counts(spark, sf_dir):
    pts = _pts_with_qt(spark, sf_dir)
    return (
        pts.select(Q.qt_round(F.col("qt_point"), 10).alias("tile"))
        .groupBy("tile").agg(F.count(F.lit(1)).cast("long").alias("num"))
    )


def q_a10_tile_plan(spark, sf_dir):
    # driver-side bin-packing: deterministic but not SQL-expressible
    pts = _pts_with_qt(spark, sf_dir)
    cells = TIL.prepare_quadtree_tree(pts, "qt_point", maxdepth=10)
    groups = TIL.find_tree_groups(cells, target=2000)
    return spark.createDataFrame(groups.astype({"tile": "int64",
                                                "weight": "int64"}))


def q_a10_plan_invariants(spark, sf_dir):
    # A10 hash-gated invariants: the oracle cannot replay driver-side
    # bin-packing, but a correct plan MUST satisfy (a) group weights sum
    # to the exact input row count (partition of the corpus — oracle
    # recomputes the count independently), (b) no non-root group exceeds
    # 2x target (normative §8.5 greedy bound — oracle pins 0 violations).
    pts = _pts_with_qt(spark, sf_dir)
    cells = TIL.prepare_quadtree_tree(pts, "qt_point", maxdepth=10)
    groups = TIL.find_tree_groups(cells, target=2000)
    total_weight = int(groups["weight"].sum())
    num_oversize = int(((groups["weight"].to_numpy() > 2 * 2000)
                        & (groups["tile"].to_numpy() != 0)).sum())
    return pts.agg(
        F.count(F.lit(1)).cast("long").alias("num_points"),
        F.lit(total_weight).cast("long").alias("total_weight"),
        F.lit(num_oversize).cast("long").alias("num_oversize"))


def q_a11_assign_invariants(spark, sf_dir):
    # A11 hash-gated invariants: every point's assigned tile must be a
    # prefix-ancestor of its qt (bad_prefix = 0), and the DEEPEST such
    # plan tile (not_longest = 0) — checked distributed with qt_is_parent
    # against the broadcast plan; num_points recomputed by the oracle.
    pts = _pts_with_qt(spark, sf_dir)
    cells = TIL.prepare_quadtree_tree(pts, "qt_point", maxdepth=10)
    groups = TIL.find_tree_groups(cells, target=2000)
    assigned = TIL.assign_tiles(pts, cells, groups, 10, qt_col="qt_point")
    plan = spark.createDataFrame(
        groups[["tile"]].astype({"tile": "int64"})).withColumnRenamed(
        "tile", "ptile")
    cand = (assigned.select("rowkey", "qt_point", "tile")
            .crossJoin(F.broadcast(plan))
            .filter(Q.qt_is_parent(F.col("ptile"), F.col("qt_point"))))
    best = cand.groupBy("rowkey", "qt_point", "tile").agg(
        F.max_by("ptile", F.col("ptile").bitwiseAND(F.lit(31)))
        .alias("best"))
    per_point = best.select(
        (~Q.qt_is_parent(F.col("tile"), F.col("qt_point")))
        .cast("long").alias("bad"),
        (F.col("tile") != F.col("best")).cast("long").alias("nl"))
    return per_point.agg(
        F.count(F.lit(1)).cast("long").alias("num_points"),
        F.sum("bad").cast("long").alias("bad_prefix"),
        F.sum("nl").cast("long").alias("not_longest"))


def q_j11_bbox_small(spark, sf_dir):
    # per-operator form for bench.py: the pandas-input J11 alone, so the
    # bench series stays comparable across rounds after the gate merged
    # in the DataFrame input (same pattern as q_ann_l2_topk / q_text_quality)
    pts = _pts_with_qt(spark, sf_dir)
    return SJ.bbox_join(pts, _bbox_queries(), point_id="rowkey").select(
        F.col("qid").cast("long").alias("qid"),
        F.col("rowkey").cast("long").alias("rowkey"))


def q_j9_pip_small(spark, sf_dir):
    # per-operator form for bench.py (see q_j11_bbox_small)
    pts = _pts_with_qt(spark, sf_dir)
    return SJ.pip_join(pts, _polygons(), point_id="rowkey").select(
        "poly_id", F.col("rowkey").cast("long").alias("rowkey"))


def q_j11_bbox_join(spark, sf_dir):
    # merged gate: BOTH J11 input types, tagged — "small" is the pandas box
    # set, "batch" the same boxes as a DataFrame — against the same oracle
    # replayed under each tag.  Keeps the registry inside the harness's
    # 50-entry window while driver-verifying both inputs hash-exact.
    pts = _pts_with_qt(spark, sf_dir)
    boxes = _bbox_queries()
    small = SJ.bbox_join(pts, boxes, point_id="rowkey")
    batch = SJ.bbox_join(
        pts, spark.createDataFrame(
            boxes[["qid", "minlon", "minlat", "maxlon", "maxlat"]]),
        point_id="rowkey")
    return (
        small.select(F.lit("small").alias("form"), "qid", "rowkey")
        .unionByName(
            batch.select(F.lit("batch").alias("form"), "qid", "rowkey"))
        .select("form", F.col("qid").cast("long").alias("qid"),
                F.col("rowkey").cast("long").alias("rowkey")))


def q_j9_pip_join(spark, sf_dir):
    # merged gate: BOTH J9 input types, tagged (see q_j11_bbox_join) —
    # pandas and DataFrame polygons, one edge-band plan
    pts = _pts_with_qt(spark, sf_dir)
    polys = _polygons()
    small = SJ.pip_join(pts, polys, point_id="rowkey")
    batch = SJ.pip_join(
        pts, spark.createDataFrame(polys[
            ["poly_id", "verts_lon", "verts_lat",
             "minlon", "minlat", "maxlon", "maxlat"]]),
        point_id="rowkey")
    return (
        small.select(F.lit("small").alias("form"), "poly_id", "rowkey")
        .unionByName(
            batch.select(F.lit("batch").alias("form"), "poly_id", "rowkey"))
        .select("form", "poly_id",
                F.col("rowkey").cast("long").alias("rowkey")))


def q_j10_knn_join(spark, sf_dir):
    # DataFrame queries: the ring radii come from knn_join's one
    # mapInPandas (pandas queries get them on the driver, same plan
    # otherwise; tests pin both input types against brute force)
    pts = _pts(spark, sf_dir)
    out = SJ.knn_join(pts, spark.createDataFrame(_knn_queries()),
                      point_id="rowkey")
    return out.select(F.col("qid").cast("long").alias("qid"),
                      F.col("rank").cast("long").alias("rank"),
                      F.col("rowkey").cast("long").alias("rowkey"))


def q_j12_raster_vector(spark, sf_dir):
    pts = _pts_with_qt(spark, sf_dir)
    return SJ.raster_vector_assign(pts, 10, 7, "qt_point")


def q_f8_idset_semi_join(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    heavy = (ev.groupBy("user_id").count()
             .filter(F.col("count") >= 5).select("user_id"))
    return (
        ev.join(heavy, "user_id", "left_semi")
        .groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("min_id"))
        .select(F.col("user_id").cast("long").alias("user_id"), "n", "min_id")
    )


def q_x5_tile_bbox(spark, sf_dir):
    # X5 Quadtree.as_bbox(buffer): distinct depth-6 tiles -> buffered cell
    # bbox via the shared sqlgen fragment (same text as the oracle)
    pts = _pts_with_qt(spark, sf_dir)
    tiles = pts.select(Q.qt_round(F.col("qt_point"), 6).alias("tile")) \
        .distinct()
    tiles.createOrReplaceTempView("__tiles_x5")
    return spark.sql(sqlgen.tile_bbox_sql("__tiles_x5", "tile", 6,
                                          buffer=0.05))


def q_x8_mercator(spark, sf_dir):
    # X8 LonLat.forward — mercator meters, floored to ints
    _pts(spark, sf_dir).createOrReplaceTempView("__pts_x8")
    return spark.sql(sqlgen.mercator_xy_sql("__pts_x8", "rowkey",
                                            "lon", "lat"))


def q_x7b_date_string(spark, sf_dir):
    # X7 timestamp_string/date_string formatting helpers
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"))


def q_s13_ordered_rank(spark, sf_dir):
    # S13 write_merged_sort semantics: canonical (qt, id) order inside each
    # tile, materialized as a rank so the compare is order-sensitive
    from pyspark.sql.window import Window

    pts = _pts_with_qt(spark, sf_dir)
    tile = Q.qt_round(F.col("qt_point"), 10)
    w = Window.partitionBy(tile).orderBy(F.col("qt_point").asc(),
                                         F.col("rowkey").asc())
    return pts.select(
        F.col("rowkey").cast("long").alias("rowkey"),
        tile.alias("tile"),
        F.row_number().over(w).cast("long").alias("rk"))


# depth-5 probe cell for the prefix-range pruning predicate (F6/X4):
# covers a fixed band; lo/hi literals shared with the oracle text
_X4_PREFIX = int(np.asarray(_K.qt_from_cell(17, 11, 5)))


def q_x4_prefix_range_count(spark, sf_dir):
    """F6/§4 partition pruning: descendant-of-prefix as a contiguous i64
    BETWEEN range on the STORED qt key of a materialized qts product
    (rule 4 — the reference's ``-qts.pbf`` shape), so the predicate
    reaches the parquet scan as PushedFilters and prunes via row-group
    min/max stats.  This is the 100TB shape AND the codegen-safe one:
    filtering the COMPUTED qt expression instead let predicate
    pushdown-through-project substitute the 18-level descent into the
    scan filter twice (``between`` references its operand once per
    bound), blowing janino's hard 64KB whole-stage method limit — the
    entire plan then silently ran interpreted (0 WholeStageCodegen
    spans, 4.2s for a 60k-row agg; rule 2's failure mode arriving via
    the optimizer rather than projection collapse)."""
    import os as _os

    lo, hi = sqlgen.qt_key_range(_X4_PREFIX)
    path = _os.path.join(_gate_tmpdir("x4_qts_"), "qts")
    _pts_with_qt(spark, sf_dir).select("rowkey", "qt_point") \
        .write.mode("overwrite").parquet(path)
    qts = spark.read.parquet(path)
    return qts.filter(F.col("qt_point").between(lo, hi)).agg(
        F.count(F.lit(1)).cast("long").alias("num"),
        F.min("rowkey").cast("long").alias("min_id"),
        F.max("rowkey").cast("long").alias("max_id"))


def q_dedup_embedding_cosine(spark, sf_dir):
    # embedding-cosine near-dup pairs; integer-quantized exact predicate,
    # triangular block self-join (NO driver collect — each task holds only
    # two hash blocks; same pair set as the broadcast test twin)
    emb = _read(spark, sf_dir, "embeddings")
    out = SIM.cosine_near_dup_pairs_blocked(emb, threshold_num=3,
                                            threshold_den=10, num_blocks=8)
    return out.select(F.col("id_a").cast("long").alias("id_a"),
                      F.col("id_b").cast("long").alias("id_b"),
                      F.col("dot").cast("long").alias("dot"))


def q_dedup_embedding_cosine_lsh(spark, sf_dir):
    # the 10^12-scale near-dup path: banded-LSH candidates (equi-join on
    # deterministic sign buckets) + exact integer verify on candidates only;
    # the oracle replays the identical banding, so hash-exact by design
    emb = _read(spark, sf_dir, "embeddings")
    # (ppb=6, bands=4): the production config — 64 buckets per band
    # prunes candidates ~15x vs (3, 12)'s 8 buckets (measured 1.57M ->
    # ~0.1M pairs on 2000 vectors); recall tradeoff documented in
    # cosine_near_dup_pairs_lsh
    out = SIM.cosine_near_dup_pairs_lsh(emb, dim=64, threshold_num=3,
                                        threshold_den=10,
                                        planes_per_band=6, bands=4)
    return out.select(F.col("id_a").cast("long").alias("id_a"),
                      F.col("id_b").cast("long").alias("id_b"),
                      F.col("dot").cast("long").alias("dot"))


def q_s11_image_decode_stats(spark, sf_dir):
    # S11 per-blob decode + the input_hint payload invariant (decoded-pixel
    # equality / PSNR>=40dB + caption equality) over a deterministic
    # synthetic corpus; oracle re-derives the stats analytically from the
    # generator spec (driver_oracles s11_modalities)
    from osmquadtree_rust_bindings_spark.operators import images as IMG
    from osmquadtree_rust_bindings_spark.sources import images as SRC

    pdf = SRC.make_images_pdf(0, 2000)
    df = spark.createDataFrame(pdf).repartition(8)
    v = IMG.verify_payload(df)
    return (
        df.select("image_id", "fmt").join(v, "image_id")
        .groupBy("fmt").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("pixels_ok").cast("long")).alias("n_pixels_ok"),
            F.sum(F.col("caption_ok").cast("long")).alias("n_caption_ok"),
            F.min(F.floor(F.least(F.col("psnr"), F.lit(9999.0)) * 100)
                  .cast("long")).alias("min_psnr_centi"))
    )


def q_s11c_video_features(spark, sf_dir):
    # S11 analogue for the video modality: opaque frame-stack payload ->
    # per-clip integer features + every-8th-frame sampling, one Arrow
    # pass each; the merged s11 gate's oracle replays the frame pixel
    # pattern analytically (driver_oracles s11_modalities)
    from osmquadtree_rust_bindings_spark.operators import images as IMG
    from osmquadtree_rust_bindings_spark.sources import video as SRC

    pdf = SRC.make_videos_pdf(0, 400)
    df = spark.createDataFrame(pdf).repartition(8)
    feats = IMG.video_features(df).agg(
        F.count(F.lit(1)).cast("long").alias("n_clips"),
        F.sum("n_frames").cast("long").alias("sum_frames"),
        F.sum("duration_ms").cast("long").alias("sum_ms"),
        F.max("max_luma").cast("long").alias("max_luma"),
        F.sum("frame_diff").cast("long").alias("sum_diff"))
    sampled = IMG.sample_video_frames(df, every_n=8).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum(F.length("bytes")).cast("long").alias("sampled_bytes"))
    return feats.crossJoin(sampled)


def q_ann_ivf_prebuilt(spark, sf_dir):
    # IVF over a prebuilt cell-partitioned index (temp dir): identical
    # output to ann_ivf_topk, but the scan reads only the probed
    # partitions via dynamic partition pruning — the ingest-once /
    # query-many production shape.  Oracle = the ann_ivf_topk replay.
    import hashlib
    import os

    emb = _read(spark, sf_dir, "embeddings")
    # per-(sf, process) path: repeat invocations IN one process overwrite
    # in place (no accumulation of embedding copies), while two concurrent
    # suite runs on the same sf_dir get disjoint paths — a shared path
    # races the overwrite against the other run's deferred scan
    idx = os.path.join(_gate_root(),
                       "ivf_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10])
    SIM.ivf_write_index(emb, idx, dim=64, cells=8)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.ann_ivf_prebuilt(spark, idx, queries, dim=64, k=10,
                               cells=8, nprobe=2)
    return out.select(F.col("qid").cast("long").alias("qid"),
                      F.col("rank").cast("long").alias("rank"),
                      F.col("vec_id").cast("long").alias("vec_id"),
                      F.col("dist2").cast("long").alias("dist2"))


def q_dedup_exact(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = DD.exact_dedup(docs)
    return out.select("content_md5",
                      F.col("keep_id").cast("long").alias("keep_id"),
                      F.col("dups").cast("long").alias("dups"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    # max_df=40 drops the stopword-shingle tail (hot-key guard — see
    # ngram_jaccard_pairs docstring); the oracle applies the same cap
    out = DD.ngram_jaccard_pairs(docs, threshold=0.2, max_df=40)
    return out.select(F.col("id_a").cast("long").alias("id_a"),
                      F.col("id_b").cast("long").alias("id_b"),
                      F.col("inter").cast("long").alias("inter"),
                      F.col("union_sz").cast("long").alias("union_sz"))


def q_dedup_minhash_lsh(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = DD.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                               verify_threshold=0.2)
    return out.select(F.col("id_a").cast("long").alias("id_a"),
                      F.col("id_b").cast("long").alias("id_b"),
                      F.col("inter").cast("long").alias("inter"),
                      F.col("union_sz").cast("long").alias("union_sz"))


def q_dedup_simhash(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = DD.simhash_signatures(docs, bits=16)
    return out.select(F.col("doc_id").cast("long").alias("doc_id"),
                      F.col("simhash").cast("long").alias("simhash"))


def q_text_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    out = TX.with_quality(docs)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        F.col("n_symbols").cast("long").alias("n_symbols"),
        F.col("is_quality"),
    )


def q_text_langid(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return TX.with_langid(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang_pred")


def q_text_fingerprint(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return TX.with_fingerprint(docs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("fingerprint").cast("long").alias("fingerprint"))


def q_ann_l2_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.l2_topk(emb, queries, k=10)
    return out.select(F.col("qid").cast("long").alias("qid"),
                      F.col("rank").cast("long").alias("rank"),
                      F.col("vec_id").cast("long").alias("vec_id"),
                      F.col("dist2").cast("long").alias("dist2"))


def q_ann_lsh_bucket_hist(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    out = SIM.with_lsh_bucket(emb, dim=64, planes=8)
    return (out.groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("num"),
                 F.min("vec_id").cast("long").alias("min_id"))
            .select(F.col("bucket").cast("long").alias("bucket"),
                    "num", "min_id"))


def q_ann_cosine_topk(spark, sf_dir):
    # engine-exact cosine ranking: sign(dot) * floor(1e6 * dot^2 / norms)
    # over quantized ints — every double is integer-valued < 2^53, so the
    # score (hence rank) is bit-identical in DuckDB -> full value oracle
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.cosine_topk_exact(emb, queries, k=10)
    return out.select(F.col("qid").cast("long").alias("qid"),
                      F.col("rank").cast("long").alias("rank"),
                      F.col("vec_id").cast("long").alias("vec_id"),
                      F.col("score").cast("long").alias("score"))


def q_ann_ivf_topk(spark, sf_dir):
    # IVF coarse index (8 deterministic integer centroids), nprobe=2 of 8
    # cells probed, exact integer-L2 re-rank — the inverted-file scale path
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.ann_ivf_topk(emb, queries, dim=64, k=10, cells=8, nprobe=2)
    return out.select(F.col("qid").cast("long").alias("qid"),
                      F.col("rank").cast("long").alias("rank"),
                      F.col("vec_id").cast("long").alias("vec_id"),
                      F.col("dist2").cast("long").alias("dist2"))


def q_s11b_audio_features(spark, sf_dir):
    # S11 analogue for the audio modality: opaque PCM payload -> integer
    # features in one Arrow pass; the merged s11 gate's oracle replays
    # the PCM generator analytically (driver_oracles s11_modalities).
    # All-integer aggregate keeps the output hash-stable across runs.
    from osmquadtree_rust_bindings_spark.operators import images as IMG
    from osmquadtree_rust_bindings_spark.sources import audio as SRC

    pdf = SRC.make_audio_pdf(0, 1500)
    df = spark.createDataFrame(pdf).repartition(8)
    feats = IMG.audio_features(df)
    return (
        feats.withColumn("dur_bucket", (F.col("duration_ms") / 25)
                         .cast("long"))
        .groupBy("dur_bucket").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_samples").cast("long").alias("sum_samples"),
            F.min("rms").cast("long").alias("min_rms"),
            F.max("peak").cast("long").alias("max_peak"),
            F.sum("zero_crossings").cast("long").alias("sum_zc"))
    )


def q_x10_geojson(spark, sf_dir):
    # X10 to_geojson (reference src/geometry.rs:243-253): depth-6 tile cells
    # serialized as GeoJSON Polygon Features; int-unit coordinates keep the
    # text byte-identical across engines (shared sqlgen fragment)
    pts = _pts_with_qt(spark, sf_dir)
    pts.select(Q.qt_round(F.col("qt_point"), 6).alias("tile")).distinct() \
        .createOrReplaceTempView("__tiles_x10")
    return spark.sql(sqlgen.geojson_bbox_sql("__tiles_x10", "tile", 6,
                                             buffer=0.05))


def q_j7_line_assembly(spark, sf_dir):
    # J7 way-geometry join (reference src/geometry.rs:760-814): re-assemble
    # each 'way' (order) from its positioned nodes — collect_list +
    # sort_array preserves ref order without a window shuffle — then fold
    # the vertex array into two engine-exact lengths: integer Manhattan
    # (mlen) and the reference-faithful euclidean length in mercator meters
    # (elen; reference linestring length, src/geometry.rs:361).  Vertices
    # are floored to int meters first (shared sqlgen fragment text), so
    # every dx^2+dy^2 < 2^53 is an exact double and floor(sqrt) is
    # bit-identical on any IEEE engine.
    pts = _pts(spark, sf_dir)
    nodes = pts.select(
        (F.col("rowkey") / 8).cast("long").alias("way_id"),
        (F.col("rowkey") % 8).cast("int").alias("pos"), "lon", "lat",
        F.expr(sqlgen.merc_x_expr("lon")).alias("mx"),
        F.expr(sqlgen.merc_y_expr("lat")).alias("my"))
    ways = nodes.groupBy("way_id").agg(
        F.sort_array(F.collect_list(F.struct("pos", "lon", "lat",
                                             "mx", "my")))
        .alias("line"))
    n = F.size("line")
    head = F.slice(F.col("line"), 1, F.greatest(n - 1, F.lit(0)))
    tail = F.slice(F.col("line"), 2, F.greatest(n - 1, F.lit(0)))
    seglen = F.aggregate(
        F.zip_with(head, tail,
                   lambda a, b: F.abs(a.lon - b.lon) + F.abs(a.lat - b.lat)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    seglen_e = F.aggregate(
        F.zip_with(head, tail,
                   lambda a, b: F.floor(F.sqrt(
                       ((a.mx - b.mx) * (a.mx - b.mx)
                        + (a.my - b.my) * (a.my - b.my)).cast("double")))
                   .cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return ways.select(
        F.col("way_id").cast("long").alias("way_id"),
        n.cast("long").alias("npts"),
        F.when(n > 1, seglen).otherwise(F.lit(0)).cast("long").alias("mlen"),
        F.when(n > 1, seglen_e).otherwise(F.lit(0)).cast("long")
        .alias("elen"))


def q_j8_multipolygon_assembly(spark, sf_dir):
    # J8 relation-geometry assembly (reference src/geometry.rs:513-591):
    # ring stitch is a per-relation graph walk -> applyInPandas kernel;
    # deterministic fixture, rows-only check (graph walk has no SQL twin)
    from osmquadtree_rust_bindings_spark.operators import geometry as G

    mem, ways, nodes = G.make_multipolygon_fixture(200)
    out = G.assemble_multipolygons(
        spark.createDataFrame(mem).repartition(8),
        spark.createDataFrame(ways).repartition(8),
        spark.createDataFrame(nodes).repartition(8))
    return out.select(
        F.col("rel_id").cast("long").alias("rel_id"), "role",
        F.col("ring_idx").cast("long").alias("ring_idx"),
        F.col("nways").cast("long").alias("nways"),
        F.col("npts").cast("long").alias("npts"), "closed",
        F.col("area2").cast("long").alias("area2"),
        F.col("nreversed").cast("long").alias("nreversed"))


def q_a11_tile_assign(spark, sf_dir):
    # A11 longest-prefix tile assignment (QuadtreeTree.find,
    # src/sortblocks.rs:78-81): driver bin-packed plan (A10) resolved once
    # per depth-10 cell, per-row assignment via broadcast equi-join;
    # engine-only (plan is driver-side) -> rows-only check
    pts = _pts_with_qt(spark, sf_dir)
    cells = TIL.prepare_quadtree_tree(pts, "qt_point", maxdepth=10)
    groups = TIL.find_tree_groups(cells, target=2000)
    assigned = TIL.assign_tiles(pts, cells, groups, 10, qt_col="qt_point")
    return (assigned.groupBy("tile")
            .agg(F.count(F.lit(1)).cast("long").alias("num"),
                 F.min("rowkey").cast("long").alias("min_id"))
            .select(F.col("tile").cast("long").alias("tile"),
                    "num", "min_id"))


def q_x1b_qt_views(spark, sf_dir):
    # X1 Quadtree views (reference src/elements.rs:29-36): the i64 key's
    # slippy (x, y, z) tuple + 'ABCD' path string for depth-6 tiles;
    # shared sqlgen fragment text on both engines
    pts = _pts_with_qt(spark, sf_dir)
    pts.select(Q.qt_round(F.col("qt_point"), 6).alias("tile")).distinct() \
        .createOrReplaceTempView("__tiles_x1b")
    return spark.sql(sqlgen.qt_views_sql("__tiles_x1b", "tile", 6))


def q_ann_lsh_multiprobe(spark, sf_dir):
    # multi-probe LSH: probe own bucket + (nprobe-1) lowest-|margin| plane
    # flips; margin encoding |dot|*planes+j makes probe order integer-exact
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = SIM.ann_lsh_multiprobe_topk(emb, queries, dim=64, k=10,
                                      planes=8, nprobe=3)
    return out.select(F.col("qid").cast("long").alias("qid"),
                      F.col("rank").cast("long").alias("rank"),
                      F.col("vec_id").cast("long").alias("vec_id"),
                      F.col("dist2").cast("long").alias("dist2"))


SUPP_LON = ("cast(floor(((s_suppkey * 2654435761) % 4294967296) "
            "/ 4.294967296e9 * 3.6e9) as bigint) - 1800000000")
SUPP_LAT = ("cast(floor(((s_suppkey * 40503 + 2654435769) % 4294967296) "
            "/ 4.294967296e9 * 1.7e9) as bigint) - 850000000")


def q_j1b_exnodes(spark, sf_dir):
    # J1 exnodes (reference src/elements.rs:873-876): refs of selected
    # containers lying OUTSIDE the bbox, dragged in for completeness.
    # Containers = orders with their full supplier list (multi-ref ways).
    supp = _read(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey AS id", f"{SUPP_LON} AS lon", f"{SUPP_LAT} AS lat")
    orders = _read(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.collect_set("l_suppkey").alias("refs")).select(
        F.col("l_orderkey").alias("id"), "refs")
    res = CNT.semi_join_cascade(supp, orders, BBOX_LIT)
    return res["exnodes"].select(F.col("pid").cast("long").alias("pid"))


# ========================================================== merged gates ==
# The driver's correctness harness checks at most 50 queries() entries, so
# related operators share one gate: each merged query is a UNION (tagged by
# a `kind` column) or a same-key JOIN of the individual operator outputs,
# with the oracle composed the same way.  The per-operator functions above
# stay exported for bench.py and unit tests.


def q_x10_geojson_all(spark, sf_dir):
    # X10 to_geojson, all three feature shapes in one gate: depth-6 cell
    # Polygons + point Features + way LineStrings (reference
    # src/geometry.rs:243-253), byte-identical fixed-point text
    cells = q_x10_geojson(spark, sf_dir).select(
        F.lit("cell").alias("kind"), F.col("tile").cast("long").alias("id"),
        "geojson")
    points = q_x10b_point_geojson(spark, sf_dir).select(
        F.lit("point").alias("kind"),
        F.col("rowkey").cast("long").alias("id"), "geojson")
    lines = q_x10c_linestring_geojson(spark, sf_dir).select(
        F.lit("line").alias("kind"),
        F.col("way_id").cast("long").alias("id"), "geojson")
    return cells.unionByName(points).unionByName(lines)


def q_x11_wkb_all(spark, sf_dir):
    # X11 wkb(transform, srid), all three shapes in one gate (reference
    # src/geometry.rs:255-257, 384-386, 507-509): EWKB hex vs the oracle's
    # pure-integer IEEE-754 reconstruction
    pt = q_x11_wkb_point(spark, sf_dir).select(
        F.lit("point").alias("kind"), F.col("id").cast("long").alias("id"),
        "wkb_hex")
    ln = q_x11_wkb_line(spark, sf_dir).select(
        F.lit("line").alias("kind"),
        F.col("way_id").cast("long").alias("id"), "wkb_hex")
    pg = q_x11_wkb_poly(spark, sf_dir).select(
        F.lit("poly").alias("kind"),
        F.col("way_id").cast("long").alias("id"), "wkb_hex")
    return pt.unionByName(ln).unionByName(pg)


def q_text_analysis(spark, sf_dir):
    # text quality + language-ID + fingerprint composed on ONE scan of
    # documents (each with_* only adds columns — no joins, no reread)
    docs = _read(spark, sf_dir, "documents")
    out = TX.with_fingerprint(TX.with_langid(TX.with_quality(docs)))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        F.col("n_symbols").cast("long").alias("n_symbols"),
        F.col("is_quality"),
        "lang_pred",
        F.col("fingerprint").cast("long").alias("fingerprint"))


def q_ann_brute_topk(spark, sf_dir):
    # the two exact brute-force ANN baselines (integer L2 + engine-exact
    # cosine) in one gate, tagged by kind; `val` = dist2 / score resp.
    l2 = q_ann_l2_topk(spark, sf_dir).select(
        F.lit("l2").alias("kind"), "qid", "rank", "vec_id",
        F.col("dist2").alias("val"))
    cos = q_ann_cosine_topk(spark, sf_dir).select(
        F.lit("cosine").alias("kind"), "qid", "rank", "vec_id",
        F.col("score").alias("val"))
    return l2.unionByName(cos)


def q_x1_point_qt_merc(spark, sf_dir):
    # X1 point calc_qts + X8 mercator forward on the same per-point row
    # basis — one scan, both transforms (shared sqlgen fragment text)
    pts = _pts_with_qt(spark, sf_dir)
    return pts.select(
        F.col("rowkey").cast("long").alias("rowkey"),
        F.col("qt_point").alias("qt"),
        F.expr(sqlgen.merc_x_expr("lon")).alias("mx"),
        F.expr(sqlgen.merc_y_expr("lat")).alias("my"))


def q_x5_tile_views(spark, sf_dir):
    # X5 as_bbox(buffer) + X1b qt integer/tuple/string views joined on the
    # same distinct depth-6 tile set
    pts = _pts_with_qt(spark, sf_dir)
    pts.select(Q.qt_round(F.col("qt_point"), 6).alias("tile")).distinct() \
        .createOrReplaceTempView("__tiles_x5v")
    bbox = spark.sql(sqlgen.tile_bbox_sql("__tiles_x5v", "tile", 6,
                                          buffer=0.05))
    views = spark.sql(sqlgen.qt_views_sql("__tiles_x5v", "tile", 6))
    return bbox.join(views, "tile").select(
        "tile", "minlon", "maxlon", "minlat", "maxlat",
        "z", "x", "y", "qt_str")


def q_s11_modalities(spark, sf_dir):
    # S11 image/audio/video decode in one gate: per-modality summary rows
    # with a common (modality, n, c1, c2, c3) shape.  The checks carried:
    # image c1/c2 = payload-invariant pass counts (pixels, caption) which
    # must equal n, c3 = min PSNR-centi; audio c1..c3 = sum samples / max
    # peak / sum zero-crossings; video c1..c3 = sum frames / max luma /
    # sum frame-diff.  Oracle: analytic replay of all three generator
    # specs in pure integer SQL (plus the jpeg S/48 closed-form MSE and
    # the audio tone expression) — driver_oracles.py s11_modalities.
    img = q_s11_image_decode_stats(spark, sf_dir).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("n_pixels_ok").cast("long").alias("c1"),
        F.sum("n_caption_ok").cast("long").alias("c2"),
        F.min("min_psnr_centi").cast("long").alias("c3")).select(
        F.lit("image").alias("modality"), "n", "c1", "c2", "c3")
    aud = q_s11b_audio_features(spark, sf_dir).agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_samples").cast("long").alias("c1"),
        F.max("max_peak").cast("long").alias("c2"),
        F.sum("sum_zc").cast("long").alias("c3")).select(
        F.lit("audio").alias("modality"), "n", "c1", "c2", "c3")
    vid = q_s11c_video_features(spark, sf_dir).select(
        F.lit("video").alias("modality"),
        F.col("n_clips").alias("n"), F.col("sum_frames").alias("c1"),
        F.col("max_luma").alias("c2"), F.col("sum_diff").alias("c3"))
    return img.unionByName(aud).unionByName(vid)


def q_s2_header(spark, sf_dir):
    # S2 get_header (reference HeaderBlock getters, src/readpbf.rs:200-243)
    # over a deterministic temp-catalog round trip: base snapshot (4 blocks,
    # pts bbox) + change snapshot (2 blocks, bbox extended 1000 units west,
    # advanced replication cursor).  The merged header's bbox union, feature
    # lists, replication cursor and block index counts come back as one
    # all-int/string row the SQL oracle recomputes from the source table.
    from osmquadtree_rust_bindings_spark.sources.catalog import Catalog

    pts = _pts(spark, sf_dir)
    bb = pts.agg(F.min("lon"), F.min("lat"), F.max("lon"),
                 F.max("lat")).collect()[0]
    base_bbox = [int(bb[0]), int(bb[1]), int(bb[2]), int(bb[3])]
    cat = Catalog(_gate_tmpdir("s2_"))
    cat.write(pts.repartition(4), "t", header={
        "bbox": base_bbox,
        "writingprogram": "osmquadtree-spark",
        "source": "synthetic-pts",
        "required_features": ["OsmSchema-V0.6", "DenseNodes"],
        "optional_features": ["Sort.Type_then_ID"],
        "osmosis_replication_timestamp": 1_600_000_000,
        "osmosis_replication_sequence_number": 41,
    })
    cat.write(pts.filter(F.col("rowkey") % 9 == 0).repartition(2), "t",
              mode="append", header={
        "bbox": [base_bbox[0] - 1000, base_bbox[1],
                 base_bbox[2], base_bbox[3]],
        "required_features": ["OsmSchema-V0.6", "HistoricalInformation"],
        "osmosis_replication_timestamp": 1_600_100_000,
        "osmosis_replication_sequence_number": 42,
    })
    h = cat.get_header("t")
    row = {
        "min_lon": h["bbox"][0], "min_lat": h["bbox"][1],
        "max_lon": h["bbox"][2], "max_lat": h["bbox"][3],
        "writingprogram": h["writingprogram"],
        "source": h["source"],
        "repl_ts": h["osmosis_replication_timestamp"],
        "repl_seq": h["osmosis_replication_sequence_number"],
        "req_features": ",".join(h["required_features"]),
        "opt_features": ",".join(h["optional_features"]),
        "num_blocks": h["num_blocks"],
        "n_change_blocks": sum(1 for e in h["index"] if e["is_change"]),
    }
    pdf = pd.DataFrame([row])
    for c in ("min_lon", "min_lat", "max_lon", "max_lat", "repl_ts",
              "repl_seq", "num_blocks", "n_change_blocks"):
        pdf[c] = pdf[c].astype("int64")
    return spark.createDataFrame(pdf)


def q_j6b_rename_classes(spark, sf_dir):
    # J6's full classification surface (reference ElementCompare,
    # src/count.rs:540-556): only_left / only_right / different_info /
    # different_tags / different_data / different_quadtree / same element
    # classes PLUS the separate ChangedUserName arm — distinct uids whose
    # user name differs between the two sides — as a 'changed_user_name'
    # summary row.  Precedence = reference enum order (info > tags > data
    # > quadtree).
    c = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("id"),
        (F.col("c_custkey") % 50).cast("long").alias("uid"),
        F.concat(F.lit("u"), (F.col("c_custkey") % 50).cast("string"))
        .alias("user"),
        (F.col("c_custkey") * 7 % 1000).cast("long").alias("info"),
        (F.col("c_custkey") * 11 % 1000).cast("long").alias("tags"),
        (F.col("c_custkey") * 13 % 1000).cast("long").alias("data"),
        (F.col("c_custkey") * 17 % 1000).cast("long").alias("quadtree"))
    left = c
    kept = c.filter(F.col("id") % 13 != 0)
    right = (
        kept.withColumn("info", F.when(F.col("id") % 17 == 0,
                                       F.col("info") + 1)
             .otherwise(F.col("info")))
        .withColumn("tags", F.when(F.col("id") % 19 == 0,
                                   F.col("tags") + 1)
                    .otherwise(F.col("tags")))
        .withColumn("data", F.when(F.col("id") % 23 == 0,
                                   F.col("data") + 1)
                    .otherwise(F.col("data")))
        .withColumn("quadtree", F.when(F.col("id") % 29 == 0,
                                       F.col("quadtree") + 1)
                    .otherwise(F.col("quadtree")))
        .withColumn("user", F.when(F.col("uid") % 5 == 0,
                                   F.concat(F.col("user"), F.lit("x")))
                    .otherwise(F.col("user")))
        .unionByName(kept.filter((F.col("id") + 1) % 31 == 0).select(
            (-F.col("id") - 1).alias("id"), "uid", "user", "info",
            "tags", "data", "quadtree"))
    )
    classes = DIFF.diff_summary(
        left, right, ["id"], ["info", "tags", "data", "quadtree"]).select(
        "diff_class", F.col("count").cast("long").alias("num"))
    renames = DIFF.changed_usernames(left, right, "uid", "user").agg(
        F.count(F.lit(1)).cast("long").alias("num")).select(
        F.lit("changed_user_name").alias("diff_class"), "num")
    return classes.unionByName(renames)
