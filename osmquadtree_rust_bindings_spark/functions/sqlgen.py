"""SQL fragments valid in BOTH Spark SQL and DuckDB.

One source of truth for the scalar quadtree math, so the Spark engine
(via ``F.expr``) and the DuckDB correctness oracle execute literally the
same formula text — no engine/oracle drift possible.  Verified operator
parity: ``<< >> & |`` on BIGINT, ``ln/tan/pi/radians/floor/least/greatest``
give bit-identical doubles on this container.  Float literals MUST be
scientific notation (1e7, 3.6e2): a bare ``10000000.0`` parses as DECIMAL
in Spark SQL (DOUBLE in the Column API), and decimal-typed intermediates
round differently from DuckDB — measured as a 1-in-46k floor() boundary
flip before this rule.

Mirrors kernels.py (the numpy oracle); normative spec is SURVEY.md §8.
The key constants are kernels.py's; the fixed-point scale appears in the
text as the literal ``1e7`` (``kernels.COORD_SCALE``).
"""

from __future__ import annotations

from osmquadtree_rust_bindings_spark.kernels import BUF_DEN, MAX_DEPTH, UNITS

_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def x_norm(lon: str) -> str:
    """int 1e-7 deg lon → normalized x in [0,1)."""
    return f"((({lon}) / 1e7 + 1.8e2) / 3.6e2)"


def y_norm(lat: str) -> str:
    """int 1e-7 deg lat → normalized mercator y in [0,1)."""
    return (
        f"((ln(tan(pi() / 4 + (({lat}) / 1e7) * (pi() / 180) / 2)) / pi()"
        f" + 1.0) / 2.0)"
    )


def grid_index(norm: str, depth: int) -> str:
    """normalized coord → clipped cell index at ``depth`` (BIGINT)."""
    n = 1 << depth
    return (
        f"least(greatest(cast(floor(({norm}) * {n}e0) as bigint), 0), {n - 1})"
    )


def units(norm: str) -> str:
    """normalized coord → integer descent units (BIGINT), clipped."""
    return (
        f"least(greatest(cast(floor(({norm}) * {UNITS}e0) as bigint), 0),"
        f" {UNITS - 1})"
    )


def spread_step(e: str, shift: int, mask: int) -> str:
    return f"((({e}) | (({e}) << {shift})) & {mask})"


def spread(e: str) -> str:
    """Full 5-step bit spread.  WARNING: duplicates ``e`` 2^5 times — only
    pass a bare column reference, never a computed expression (bind computed
    values in a prior SELECT/CTE stage first)."""
    for shift, mask in _SPREAD_STEPS:
        e = spread_step(e, shift, mask)
    return e


def qt_from_cells(ix: str, iy: str, depth: int) -> str:
    """cell indices (bare column refs!) at fixed ``depth`` → qt key."""
    return (
        f"(((({spread(ix)}) << 1) | ({spread(iy)})) << {63 - 2 * depth}"
        f" | {depth})"
    )


def qt_round(qt: str, nd: int) -> str:
    """Truncate key to depth nd (assumes depth(qt) >= nd)."""
    mask = -(1 << (63 - 2 * nd)) if nd > 0 else 0
    return f"((({qt}) & {mask}) | {nd})"


def qt_depth(qt: str) -> str:
    return f"(({qt}) & 31)"


def qt_key_range(qt_int: int) -> tuple[int, int]:
    """Python-side: inclusive (lo, hi) i64 range for a literal qt prefix —
    emit as ``qt BETWEEN lo AND hi`` so partition pruning fires."""
    d = qt_int & 31
    span = (1 << (63 - 2 * d)) - 1
    return qt_int, qt_int | span


_COMPACT_STEPS = (
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0xFFFFFFFF),
)


def compact(e: str) -> str:
    """Inverse of :func:`spread` (de-interleave even bits).  Same warning:
    duplicates ``e`` 2^5 times — pass a bare column reference."""
    e = f"(({e}) & {0x5555555555555555})"
    for shift, mask in _COMPACT_STEPS:
        e = f"((({e}) | (({e}) >> {shift})) & {mask})"
    return e


def inv_merc_lat(y: str) -> str:
    """normalized mercator y in [-1, 1] → latitude degrees."""
    return f"((2 * atan(exp(({y}) * pi())) - pi() / 2) * (180 / pi()))"


def tile_bbox_sql(table: str, qt: str, depth: int,
                  buffer: float = 0.0) -> str:
    """Per-row cell bbox of fixed-depth keys, int 1e-7 deg, expanded by
    ``buffer`` per side (reference Quadtree.as_bbox, src/elements.rs:41-44).
    Same text runs on Spark and DuckDB."""
    sh = 63 - 2 * depth
    size = format(2.0 ** -depth, ".17e")
    b = format(buffer * 2.0 ** -depth, ".17e")
    ix = compact(f"__m >> 1")
    iy = compact("__m")
    return f"""
SELECT {qt} AS tile,
       cast(round(((__ix) * {size} - {b}) * 3.6e2 * 1e7
                  - 1.8e9) as bigint) AS minlon,
       cast(round(((__ix + 1) * {size} + {b}) * 3.6e2 * 1e7
                  - 1.8e9) as bigint) AS maxlon,
       cast(round({inv_merc_lat(f'(2 * ((__iy) * {size} - {b}) - 1)')}
                  * 1e7) as bigint) AS minlat,
       cast(round({inv_merc_lat(f'(2 * ((__iy + 1) * {size} + {b}) - 1)')}
                  * 1e7) as bigint) AS maxlat
FROM (
  SELECT {qt}, {ix} AS __ix, {iy} AS __iy
  FROM (SELECT {qt}, (({qt}) >> {sh}) AS __m FROM {table})
)"""


def merc_x_expr(lon: str) -> str:
    """int 1e-7 deg lon → mercator meters floored to BIGINT (shared
    fragment; reference LonLat::forward x, src/geometry.rs:176-183)."""
    return (f"cast(floor((({lon}) / 1e7) / 1.8e2 * (6378137e0 * pi()))"
            f" as bigint)")


def merc_y_expr(lat: str) -> str:
    """int 1e-7 deg lat → mercator meters floored to BIGINT."""
    merc = (f"(ln(tan(pi() / 4 + (({lat}) / 1e7) * (pi() / 180) / 2))"
            f" / pi())")
    return f"cast(floor({merc} * (6378137e0 * pi())) as bigint)"


def mercator_xy_sql(table: str, key: str, lon: str, lat: str) -> str:
    """Spherical web-mercator forward (reference LonLat::forward,
    src/geometry.rs:176-183): meters, floored to ints for exact compare."""
    return f"""
SELECT {key},
       {merc_x_expr(lon)} AS mx,
       {merc_y_expr(lat)} AS my
FROM {table}"""


def point_qt_sql(table: str, key: str, lon: str, lat: str,
                 depth: int = MAX_DEPTH, out: str = "qt") -> str:
    """Self-contained SELECT computing the point qt for every row of
    ``table`` — same text runs on Spark and DuckDB."""
    return f"""
SELECT {key}, {qt_from_cells('__ix', '__iy', depth)} AS {out}
FROM (
  SELECT {key},
         {grid_index(x_norm(lon), depth)} AS __ix,
         {grid_index(y_norm(lat), depth)} AS __iy
  FROM {table}
)"""


def bbox_qt_sql(table: str, key: str, minlon: str, minlat: str,
                maxlon: str, maxlat: str, max_depth: int = MAX_DEPTH,
                out: str = "qt") -> str:
    """Buffered-bbox calc_qts as a recursive CTE (integer descent, exact
    0.05 buffer).  DuckDB-oracle side; the Spark engine uses the unrolled
    Column loop in functions.quadtree (same integer semantics)."""
    return f"""
WITH RECURSIVE __box AS (
  SELECT {key},
         {units(x_norm(minlon))} AS x0, {units(x_norm(maxlon))} AS x1,
         {units(y_norm(minlat))} AS y0, {units(y_norm(maxlat))} AS y1
  FROM {table}
), __d AS (
  SELECT {key}, x0, x1, y0, y1,
         (x0 + x1) >> 1 AS mx, (y0 + y1) >> 1 AS my,
         0 AS depth, TRUE AS alive
  FROM __box
  UNION ALL
  SELECT {key}, x0, x1, y0, y1, mx, my, depth + 1,
         alive AND depth < {max_depth}
           AND x0 >= ((mx // ({UNITS} >> (depth + 1))) * ({UNITS} >> (depth + 1))
                      - (({UNITS} >> (depth + 1)) // {BUF_DEN}))
           AND x1 <= ((mx // ({UNITS} >> (depth + 1))) * ({UNITS} >> (depth + 1))
                      + ({UNITS} >> (depth + 1))
                      + (({UNITS} >> (depth + 1)) // {BUF_DEN}))
           AND y0 >= ((my // ({UNITS} >> (depth + 1))) * ({UNITS} >> (depth + 1))
                      - (({UNITS} >> (depth + 1)) // {BUF_DEN}))
           AND y1 <= ((my // ({UNITS} >> (depth + 1))) * ({UNITS} >> (depth + 1))
                      + ({UNITS} >> (depth + 1))
                      + (({UNITS} >> (depth + 1)) // {BUF_DEN}))
  FROM __d WHERE alive AND depth <= {max_depth}
), __best AS (
  SELECT {key}, max(CASE WHEN alive THEN depth END) AS fd,
         max(mx) AS mx, max(my) AS my
  FROM __d GROUP BY {key}
), __cells AS (
  SELECT {key}, fd,
         mx // ({UNITS} >> fd) AS __ix,
         my // ({UNITS} >> fd) AS __iy
  FROM __best
)
SELECT {key},
       (((({spread('__ix')}) << 1) | ({spread('__iy')})) << (63 - 2 * fd) | fd)
       AS {out}
FROM __cells"""


def geojson_bbox_sql(table: str, qt: str, depth: int,
                     buffer: float = 0.0) -> str:
    """X10 to_geojson analogue (reference src/geometry.rs:243-253): cell
    bbox as a GeoJSON Polygon Feature string.  Coordinates stay int 1e-7
    deg units so the serialized text is byte-identical on any engine (no
    float formatting); same fragment text runs on Spark and DuckDB."""
    inner = tile_bbox_sql(table, qt, depth, buffer)
    ring = ("'[[' || minlon || ',' || minlat || '],[' || "
            "maxlon || ',' || minlat || '],[' || "
            "maxlon || ',' || maxlat || '],[' || "
            "minlon || ',' || maxlat || '],[' || "
            "minlon || ',' || minlat || ']]'")
    return f"""
SELECT tile,
       '{{"type":"Feature","properties":{{"tile":' || tile
       || '}},"geometry":{{"type":"Polygon","coordinates":[' || {ring}
       || ']}}}}' AS geojson
FROM ({inner})"""


def fixed7_expr(v: str) -> str:
    """int 1e-7 units -> exact decimal-degree string ('-123.4567891'):
    pure integer ops (floor-div + mod + lpad), so the serialized text is
    byte-identical on any engine — the X10 coordinate formatter that
    avoids float printf entirely."""
    a = f"abs({v})"
    return (f"(CASE WHEN ({v}) < 0 THEN '-' ELSE '' END || "
            f"cast(cast(floor({a} / 1e7) as bigint) as string) || '.' || "
            f"lpad(cast(({a} % 10000000) as string), 7, '0'))")


def feature_point_geojson_sql(table: str, key: str, lon: str,
                              lat: str) -> str:
    """X10 point-feature serialization (reference to_geojson,
    src/geometry.rs:243-253): GeoJSON Point Feature with decimal-degree
    coordinates via :func:`fixed7_expr`.  Same fragment text on Spark
    and DuckDB."""
    return f"""
SELECT {key},
       '{{"type":"Feature","properties":{{"id":' || cast({key} as string)
       || '}},"geometry":{{"type":"Point","coordinates":['
       || {fixed7_expr(lon)} || ',' || {fixed7_expr(lat)} || ']}}}}'
       AS geojson
FROM {table}"""


def qt_views_sql(table: str, qt: str, depth: int) -> str:
    """X1 Quadtree views (reference src/elements.rs:29-36): i64 key ->
    slippy tuple (x, y, z) + 'ABCD' digit-path string, for fixed-depth
    keys.  Same fragment text on Spark and DuckDB."""
    sh = 63 - 2 * depth
    ix = compact("__m >> 1")
    iy = compact("__m")
    digs = ", ".join(
        f"substr('ABCD', cast(((tile) >> {61 - 2 * i}) & 3 as int) + 1, 1)"
        for i in range(depth))
    return f"""
SELECT tile, cast({depth} as bigint) AS z,
       cast(__x as bigint) AS x, cast(__y as bigint) AS y,
       concat({digs}) AS qt_str
FROM (
  SELECT tile, {ix} AS __x, {iy} AS __y
  FROM (SELECT {qt} AS tile, (({qt}) >> {sh}) AS __m FROM {table})
)"""
