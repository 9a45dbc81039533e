"""Column wrappers over the quadtree SQL text in ``sqlgen.py``.

The key formulas (normalization, grid index, bit spread, descent units)
are written once, as sqlgen strings, and parsed JVM-side with ``F.expr``;
the helpers built here from Column operators (depth, round, is-parent, key
range, haversine) do not repeat them.  Everything stays whole-stage-codegen
friendly, with zero Python in the hot path.  Tests pin the results
bit-exact against the numpy oracle in ``kernels.py``.

Reference semantics: Quadtree ops src/elements.rs:29-65; calc_qts
src/sortblocks.rs:7-21 (see SURVEY.md §2.7/§8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark.functions import sqlgen
from osmquadtree_rust_bindings_spark.functions.sqlgen import _SPREAD_STEPS
from osmquadtree_rust_bindings_spark.kernels import BUF_DEN, MAX_DEPTH, UNITS


def _with_spread_steps(df: DataFrame, cols: list[str]) -> DataFrame:
    """Apply the 5 spread steps to ``cols`` in place as 5 chained
    projections.  Each step's expression references its input twice and is
    non-cheap, so CollapseProject keeps the projections separate and every
    step is code-generated exactly once per column.

    The step expressions are built as sqlgen strings parsed JVM-side in one
    ``F.expr`` call each: the Column-operator form made ~14 py4j round
    trips per step per column, and driver-side plan construction — a
    constant, data-independent cost — dominated the sf0.1 gate wall
    (with_bbox_qt built in 0.81s warm vs 0.75s to EXECUTE it over 457k
    rows).  The qt unit tests pin the result bit-exact against the numpy
    kernels."""
    for shift, mask in _SPREAD_STEPS:
        df = df.withColumns({
            c: F.expr(sqlgen.spread_step(c, shift, mask)) for c in cols
        })
    return df


def qt_depth(qt: Column) -> Column:
    return qt.bitwiseAND(F.lit(31))


def qt_round(qt: Column, nd: int) -> Column:
    """Truncate to depth nd; assumes depth(qt) >= nd (true for calc_qts
    outputs at fixed depth; general case uses the expr in sqlgen)."""
    mask = -(1 << (63 - 2 * nd)) if nd > 0 else 0
    return qt.bitwiseAND(F.lit(mask)).bitwiseOR(F.lit(nd))


def qt_round_dyn(qt: Column, nd: Column) -> Column:
    """round() with per-row depth via a dynamic shift:
    ``(qt & (-1L << (63 - 2*eff))) | eff`` — matches kernels.qt_round for
    every depth incl. the EMPTY sentinel (-1 has depth bits 31; the shift-1
    mask OR 31 reproduces -1).  A literal-mask CASE chain here would inline
    the ``qt`` argument once per branch — catastrophic when ``qt`` is itself
    the unrolled calc_qts expression (measured 20x slowdown uncached)."""
    eff = F.least(nd, qt.bitwiseAND(F.lit(31)))
    mask = F.call_function(
        "shiftleft", F.lit(-1).cast("long"),
        (F.lit(63) - F.lit(2) * eff).cast("int"))
    return qt.bitwiseAND(mask).bitwiseOR(eff.cast("long"))


def qt_is_parent(parent: Column, child: Column) -> Column:
    pd = parent.bitwiseAND(F.lit(31))
    return (child.bitwiseAND(F.lit(31)) >= pd) & (
        qt_round_dyn(child, pd) == parent
    )


def qt_key_range_pred(qt_col: Column, prefix_qt: int) -> Column:
    """Pruning predicate: qt_col is prefix_qt or a descendant — a contiguous
    i64 range, so it pushes down to parquet/Iceberg min-max stats."""
    lo, hi = sqlgen.qt_key_range(prefix_qt)
    return qt_col.between(lo, hi)


def with_point_qt(df: DataFrame, lon: str, lat: str,
                  depth: int = MAX_DEPTH, out: str = "qt") -> DataFrame:
    """Append the point calc_qts key — pure Column math, no UDF.

    Expressions arrive as sqlgen strings (the texts the DuckDB oracle and
    the unit tests already pin bit-exact against the numpy kernels), parsed
    JVM-side in one call per projection — see :func:`_with_spread_steps`
    for why plan-construction time matters."""
    df = df.withColumns({
        "__sx": F.expr(sqlgen.grid_index(sqlgen.x_norm(lon), depth)),
        "__sy": F.expr(sqlgen.grid_index(sqlgen.y_norm(lat), depth)),
    })
    df = _with_spread_steps(df, ["__sx", "__sy"])
    return df.withColumn(out, F.expr(
        f"shiftleft(shiftleft(__sx, 1) | __sy, {63 - 2 * depth}) | {depth}"
    )).drop("__sx", "__sy")


def with_bbox_qt(df: DataFrame, minlon: str, minlat: str, maxlon: str,
                 maxlat: str, max_depth: int = MAX_DEPTH,
                 out: str = "qt") -> DataFrame:
    """Buffered-bbox calc_qts, unrolled integer descent as Column algebra.

    Same integer semantics as kernels.calcqts_bbox: descend from the root
    while the 0.05-buffer-expanded child cell of the box midpoint still
    contains the whole box.  18 unrolled levels of bit math stay inside
    whole-stage codegen — no shuffle, no Python worker.
    """
    df = df.withColumns({
        "__x0": F.expr(sqlgen.units(sqlgen.x_norm(minlon))),
        "__x1": F.expr(sqlgen.units(sqlgen.x_norm(maxlon))),
        "__y0": F.expr(sqlgen.units(sqlgen.y_norm(minlat))),
        "__y1": F.expr(sqlgen.units(sqlgen.y_norm(maxlat))),
    }).withColumns({
        "__mx": F.expr("shiftright(__x0 + __x1, 1)"),
        "__my": F.expr("shiftright(__y0 + __y1, 1)"),
    })
    # The buffered cells containing the (fixed) midpoint are nested across
    # depths, so the per-level containment test is monotone: cond_{k+1}
    # implies cond_k.  The descent therefore collapses to a SUM of
    # independent per-level predicates — linear-size expression, stays in
    # whole-stage codegen (a chained when/otherwise recurrence blows the
    # janino 64KB method limit and silently falls back to interpreted mode).
    # Built as ONE sqlgen string: the Column-operator loop made ~10 py4j
    # round trips per level and plan construction (0.81s warm at depth 18)
    # exceeded the query's own execution time at sf0.1.
    terms = []
    for k in range(max_depth):
        s = UNITS >> (k + 1)
        b = s // BUF_DEN
        ox = f"(floor(__mx / {s}) * {s})"
        oy = f"(floor(__my / {s}) * {s})"
        terms.append(
            f"cast((__x0 >= {ox} - {b} and __x1 <= {ox} + {s + b}"
            f" and __y0 >= {oy} - {b} and __y1 <= {oy} + {s + b}) as int)"
        )
    depth_sql = " + ".join(terms) if terms else "0"
    # The midpoint's depth-d cell is an ancestor of its max-depth cell, so
    # the final key is round(qt_maxdepth(midpoint), depth): the morton
    # spread runs ONCE on the max-depth cell index (as chained projections)
    # instead of on a dynamic floor(mx / (UNITS >> depth)).
    s18 = UNITS >> max_depth
    df = df.withColumns({
        "__sbx": F.expr(f"cast(floor(__mx / {s18}) as bigint)"),
        "__sby": F.expr(f"cast(floor(__my / {s18}) as bigint)"),
        "__fd": F.expr(depth_sql),
    })
    df = _with_spread_steps(df, ["__sbx", "__sby"])
    df = df.withColumn("__qtf", F.expr(
        f"shiftleft(shiftleft(__sbx, 1) | __sby, {63 - 2 * max_depth})"
        f" | {max_depth}"))
    # round(__qtf, __fd) with a dynamic shift (SQL shiftleft takes a column
    # count) — __fd is referenced 2x, still linear overall.
    qt = F.expr(
        f"(__qtf & (-1L << (63 - 2 * __fd))) | __fd"
        if max_depth > 0 else "__fd")
    return df.withColumn(out, qt).drop(
        "__x0", "__x1", "__y0", "__y1", "__mx", "__my", "__fd", "__qtf",
        "__sbx", "__sby",
    )


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column,
                radius: float = 6_371_000.0) -> Column:
    """Great-circle meters between int 1e-7 deg points — Column math."""
    k = 3.141592653589793 / 180 / 10000000.0
    la1, la2 = lat1 * k, lat2 * k
    dlat = (lat2 - lat1) * k / 2
    dlon = (lon2 - lon1) * k / 2
    a = F.sin(dlat) ** 2 + F.cos(la1) * F.cos(la2) * F.sin(dlon) ** 2
    return F.lit(2 * radius) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))
