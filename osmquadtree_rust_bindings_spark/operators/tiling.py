"""Tiling engine: weighted quadtree tree, group planning, tile assignment,
group-by-tile rebalancing — the reference's sortblocks pipeline.

Reference chain (SURVEY.md §3.3): prepare_quadtree_tree (A9,
src/sortblocks.rs:137-141) → find_tree_groups (A10,
src/sortblocks.rs:144-152, target=40000 per __init__.py:147,167-168) →
sort_blocks sink (S14, src/sortblocks.rs:156-169).

Spark shape: the weighted tree is a driver-side structure built from a
``groupBy(qt_round(qt, depth)).count()`` (distinct cells ≪ rows); group
planning is deterministic driver-side bin-packing (§8.5); tile assignment
(A11) resolves the longest-prefix lookup once per distinct cell on the
driver and ships it as a broadcast equi-join — no Python per row; the
sink is a single shuffle ``rebalance(tile).sortWithinPartitions(tile,
qt, id)`` (Spark's external sort replaces the reference's temp-file
staging knobs).

Skew handling: groups emitted by the planner are bounded by ~2*target,
but a single max-depth cell can be arbitrarily hot; the ``rebalance``
hint lets AQE split such a tile's shuffle partition by map output, so
this module keeps no bucketing column or skew threshold of its own.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark import kernels as K
from osmquadtree_rust_bindings_spark.functions import quadtree as Q

GROUP_TARGET = 40_000  # reference run_sortblocks default (__init__.py:147)
PLAN_MAX_CELLS = 200_000  # bound on the driver-side cell histogram


def _round_i(qt: int, nd: int) -> int:
    """Scalar qt_round for driver-side structures (no numpy overhead)."""
    if nd >= (qt & 31):
        return qt
    mask = -(1 << (63 - 2 * nd)) if nd else 0
    return (qt & mask) | nd


def _is_parent_i(parent: int, child: int) -> bool:
    return (child & 31) >= (parent & 31) and _round_i(child, parent & 31) == parent


def _common_i(a: int, b: int) -> int:
    d = min(a & 31, b & 31)
    while d and _round_i(a, d) != _round_i(b, d):
        d -= 1
    return _round_i(a, d)


def longest_prefix_assign(qts: np.ndarray, roots_sorted: np.ndarray) -> np.ndarray:
    """A11 kernel: deepest element of ``roots_sorted`` that is an ancestor of
    each qt (root 0 must be present as catch-all).  Vectorized: one
    searchsorted probe per depth, deepest first."""
    qts = np.asarray(qts, np.int64)
    assigned = np.zeros(len(qts), dtype=np.int64)
    unset = np.ones(len(qts), dtype=bool)
    max_d = int(K.qt_depth(roots_sorted).max()) if len(roots_sorted) else 0
    for d in range(max_d, -1, -1):
        if not unset.any():
            break
        cand = K.qt_round(qts, d)
        pos = np.searchsorted(roots_sorted, cand)
        hit = unset & (pos < len(roots_sorted)) & (
            roots_sorted[np.minimum(pos, len(roots_sorted) - 1)] == cand)
        assigned[hit] = cand[hit]
        unset &= ~hit
    return assigned


class QuadtreeTree:
    """Driver-side weighted trie over qt cells.

    API parity with the reference pyclass (src/sortblocks.rs:31-135):
    add / find (longest-prefix) / remove / iteration, per-node weight (own)
    and total (subtree).  Sized by distinct cells, never by rows.
    """

    def __init__(self):
        self.weight: dict[int, int] = {}   # own weight per node qt
        self.total: dict[int, int] = {}    # subtree weight per node qt
        self.nodes: set[int] = {0}         # materialized node keys

    def add(self, qt: int, weight: int = 1) -> None:
        qt = int(qt)
        d = qt & 31
        self.weight[qt] = self.weight.get(qt, 0) + weight
        for nd in range(d + 1):
            a = _round_i(qt, nd)
            self.nodes.add(a)
            self.total[a] = self.total.get(a, 0) + weight

    def find(self, qt: int) -> int:
        """Deepest existing ancestor (reference find, src/sortblocks.rs:78-81)."""
        qt = int(qt)
        for nd in range((qt & 31), -1, -1):
            a = _round_i(qt, nd)
            if a in self.nodes:
                return a
        return 0

    def remove(self, qt: int) -> int:
        """Remove subtree rooted at qt; returns removed weight."""
        qt = int(qt)
        d = qt & 31
        lo, hi = qt, qt | ((1 << (63 - 2 * d)) - 1)
        removed = 0
        for n in sorted(self.nodes):
            if lo <= n <= hi and n != 0:
                removed += self.weight.pop(n, 0)
                self.total.pop(n, None)
                self.nodes.discard(n)
        for nd in range(qt & 31):
            a = _round_i(qt, nd)
            if a in self.total:
                self.total[a] -= removed
        return removed

    def __len__(self):
        return len(self.nodes)

    def items(self):
        """Pre-order (= sorted i64) iteration of (qt, own_weight, total)."""
        for n in sorted(self.nodes):
            yield n, self.weight.get(n, 0), self.total.get(n, 0)


def choose_plan_depth(df: DataFrame, qt_col: str = "qt",
                      max_cells: int = PLAN_MAX_CELLS,
                      maxdepth: int = 17) -> int:
    """Deepest planning depth whose distinct-cell count stays under
    ``max_cells`` — ONE pass computing an approx-distinct sketch per depth,
    so the driver-side tile plan is bounded no matter the corpus size
    (collecting depth-17 cells of a 10^12-row corpus would be a serial
    bottleneck; the reference does the equivalent in-RAM on one node)."""
    aggs = [
        F.approx_count_distinct(
            Q.qt_round_dyn(F.col(qt_col), F.lit(d)), 0.05).alias(f"d{d}")
        for d in range(maxdepth + 1)
    ]
    row = df.agg(*aggs).collect()[0]
    for d in range(maxdepth, -1, -1):
        if row[f"d{d}"] <= max_cells:
            return d
    return 0


def prepare_quadtree_tree(df: DataFrame, qt_col: str = "qt",
                          maxdepth: int = 17) -> pd.DataFrame:
    """A9: per-cell weights at ``maxdepth`` — one narrow aggregation.

    Elements whose qt is shallower than maxdepth keep their own (internal)
    cell, matching the reference tree built from the -qts.pbf stream.
    Returns a pandas frame (cell, weight) sorted by cell.
    """
    agg = (
        df.select(Q.qt_round_dyn(F.col(qt_col),
                                 F.lit(maxdepth)).alias("cell"))
        .groupBy("cell").count()
    )
    pdf = agg.toPandas().rename(columns={"count": "weight"})
    return pdf.sort_values("cell").reset_index(drop=True)


def find_tree_groups(cells: pd.DataFrame, target: int = GROUP_TARGET,
                     min_target: int | None = None) -> pd.DataFrame:
    """A10 (normative §8.5): bottom-up greedy grouping.

    Post-order walk of the implied trie; each node accumulates its own
    weight plus the carried (ungrouped) weight of its children in quadrant
    order; when the accumulated weight reaches ``min_target`` the node
    becomes a group root and the carry resets; the root flushes the rest.
    Returns (tile_qt, weight) — group roots with their grouped weight.
    Deterministic: input cells are processed in sorted (i64 = depth-first
    spatial) order, which IS post-order when replayed bottom-up.
    """
    if min_target is None:
        min_target = target // 2
    order = np.argsort(cells["cell"].to_numpy(np.int64), kind="stable")
    cell_arr = cells["cell"].to_numpy(np.int64)[order]
    w_arr = cells["weight"].to_numpy(np.int64)[order]

    groups: list[tuple[int, int]] = []
    # Stack of [qt, carried_weight] along the current root-to-cell path.
    # i64 sorted order visits parents before their subtrees (pre-order), so
    # one pass + an unwind whenever the next cell leaves the top's subtree
    # is exactly a post-order accumulation.  A node can only cross the
    # threshold at the moment weight is ADDED to it, so every addition is
    # followed by an emit-and-reset check; closing nodes therefore always
    # carry < min_target upward.  When two sibling subtrees meet below the
    # current stack parent, their lowest common ancestor is interposed as an
    # implicit node so the emission happens at the deepest accumulating
    # node — identical to a walk of the fully materialized trie, but O(cells)
    # time and O(depth) memory.
    stack: list[list[int]] = [[0, 0]]

    def add_to_top(wgt: int) -> None:
        stack[-1][1] += wgt
        if len(stack) > 1 and stack[-1][1] >= min_target:
            groups.append((stack[-1][0], stack[-1][1]))
            stack[-1][1] = 0

    def unwind_until_ancestor_of(c: int) -> None:
        while len(stack) > 1 and not _is_parent_i(stack[-1][0], c):
            top_qt, carry = stack.pop()
            lca = _common_i(top_qt, c)
            if (lca & 31) > (stack[-1][0] & 31):
                stack.append([lca, 0])  # interpose implicit ancestor
            add_to_top(carry)

    for c, w in zip(cell_arr.tolist(), w_arr.tolist()):
        unwind_until_ancestor_of(c)
        if c != stack[-1][0]:
            stack.append([c, 0])
        add_to_top(int(w))
    while len(stack) > 1:
        _, carry = stack.pop()
        add_to_top(carry)  # emit check skips the root (len(stack)==1)
    # root flushes whatever is left (no min_target requirement)
    if stack[0][1] > 0:
        groups.append((stack[0][0], stack[0][1]))

    # The walk fixes the group-root SET; the authoritative per-group weight
    # is the exact longest-prefix assignment of the input cells (post-
    # emission arrivals land on the emitted node, so walk-time tallies can
    # drift from real assignment counts — recompute, don't estimate).
    roots = np.unique(np.array([g[0] for g in groups] + [0], dtype=np.int64))
    assigned = longest_prefix_assign(cell_arr, roots)
    out = (pd.DataFrame({"tile": assigned, "weight": w_arr})
           .groupby("tile", as_index=False)["weight"].sum())
    zero = np.setdiff1d(roots, out.tile.to_numpy(np.int64))
    if len(zero):
        out = pd.concat([out, pd.DataFrame({"tile": zero, "weight": 0})],
                        ignore_index=True)
    return out.sort_values("tile").reset_index(drop=True)


def assign_tiles(df: DataFrame, cells: pd.DataFrame, groups: pd.DataFrame,
                 plan_depth: int, qt_col: str = "qt",
                 out: str = "tile") -> DataFrame:
    """A11 via a broadcast dimension join — zero Python in the hot path.

    Group roots live at depth <= ``plan_depth`` (they were planned from the
    depth-``plan_depth`` cell histogram), so the longest-prefix assignment
    of a row is fully determined by its depth-``plan_depth`` ancestor.  That
    ancestor domain is exactly ``cells`` (<= 4^plan_depth distinct values,
    and only those observed in the data), so the per-row 18-probe prefix
    search collapses to: longest_prefix_assign over the distinct cells ONCE
    on the driver (numpy, bounded), then a broadcast equi-join on the
    rounded key.  Spark plans it as a broadcast hash join inside whole-stage
    codegen.
    """
    spark = df.sparkSession
    cell_arr = cells["cell"].to_numpy(np.int64)
    roots = np.sort(groups["tile"].to_numpy(np.int64))
    if 0 not in roots:
        roots = np.insert(roots, 0, 0)
    assigned = longest_prefix_assign(cell_arr, roots)
    # Join on a COMPACTED key, not the raw qt: cell keys at depth <= p are
    # (morton << (63-2p)) | depth — magnitudes near 2^62 spread over the
    # whole long range, which defeats LongToUnsafeRowMap's dense-array mode
    # and makes the broadcast probe ~10x slower (measured 8.5s vs 0.87s on
    # 16M rows).  (qt >>> (63-2p)) << 5 | depth is injective for depth <= p
    # (digits beyond depth are zero) and lands in [0, 2^(2p+5)).
    shift = 63 - 2 * plan_depth
    cu = cell_arr.astype(np.uint64)
    compact = (((cu >> np.uint64(shift)) << np.uint64(5))
               | (cu & np.uint64(31))).astype(np.int64)
    dim = pd.DataFrame({"__cell_pd": compact, out: assigned})
    dim_df = F.broadcast(spark.createDataFrame(dim))
    return df.withColumn(
        "__c_raw", Q.qt_round_dyn(F.col(qt_col), F.lit(plan_depth))
    ).withColumn(
        "__cell_pd",
        F.shiftleft(F.shiftrightunsigned(F.col("__c_raw"), shift), 5)
        .bitwiseOR(F.col("__c_raw").bitwiseAND(F.lit(31)))
    ).join(dim_df, "__cell_pd").drop("__c_raw", "__cell_pd")


def iter_tree(tree: "QuadtreeTree"):
    """Reference ``iter_tree`` (__init__.py:83-89): yields
    (qt, own_weight, total) in pre-order, skipping zero-own-weight
    internal nodes exactly like the reference's ``if q[2]`` guard."""
    for qt, w, total in tree.items():
        if w:
            yield qt, w, total


def run_sortblocks(df: DataFrame, out_path: str, qt_col: str = "qt",
                   target: int = GROUP_TARGET, min_target: int | None = None,
                   max_qt_level: int = 17) -> pd.DataFrame:
    """Reference ``run_sortblocks`` convenience (__init__.py:142-180):
    plan tile groups from the qt column, assign every row its group tile,
    and write the tiled parquet store in one call.  The reference's
    temp-file staging knobs (splitat/limit/in_mem) are owned by Spark's
    shuffle; stage timings print as a LogTimes, like the reference.
    Returns the (tile, weight) plan."""
    from osmquadtree_rust_bindings_spark.functions.format import LogTimes

    lt = LogTimes()
    depth = choose_plan_depth(df, qt_col, maxdepth=max_qt_level)
    cells = prepare_quadtree_tree(df, qt_col, depth)
    lt("prepare quadtree tree")
    groups = find_tree_groups(cells, target=target, min_target=min_target)
    lt("find tree groups")
    write_tiled(df, out_path, groups, cells, depth, qt_col=qt_col)
    lt("sort blocks")
    print(lt)
    return groups


def write_tiled(df: DataFrame, path: str, groups: pd.DataFrame,
                cells: pd.DataFrame, plan_depth: int, qt_col: str = "qt",
                order_cols: tuple[str, ...] = ("qt",)) -> DataFrame:
    """S14 sink: assign tiles from the plan's own depth-``plan_depth``
    ``cells`` histogram, one ``rebalance`` shuffle on tile, sort within
    partitions by (tile, order), write parquet partitioned by tile.

    Each file is sorted by ``order_cols``: the partitioned writer needs its
    input ordered by ``tile`` and, because the sort leads with it, adds no
    sort of its own that would discard the order.  ``rebalance`` lets AQE
    split a hot tile's partition into several files and coalesce light
    ones.  The shuffle replaces the reference's temp-file staging
    (splitat/limit/fsplit knobs, src/readpbf.rs:694-700) — Spark spills
    automatically.
    """
    tiled = assign_tiles(df, cells, groups, plan_depth, qt_col=qt_col)
    (
        tiled.hint("rebalance", "tile")
        .sortWithinPartitions("tile", *order_cols)
        .write.mode("overwrite").partitionBy("tile").parquet(path)
    )
    return tiled
