"""S2-style coarse-index cells: Hilbert-curve ids over the mercator grid.

The north rule wants an H3/S2-style coarse index alongside the quadtree
tiling layer.  Neither h3 nor s2 libs exist in this container, so this is an
own implementation of the same idea: a space-filling-curve cell id at a
fixed level over the same normalized mercator plane the quadtree uses.
Hilbert (not morton) for the physical coarse index because neighboring
cells get nearby ids — better range locality for k-ring scans.

``cell_id = (level << 58) | hilbert_d`` so ids of one level sort as a
contiguous block and the level is recoverable.

All functions are vectorized numpy (loop over levels, not rows) and are
used inside Arrow-batched pandas UDFs; ``k_ring`` is the expansion primitive
for the kNN join (SURVEY.md J10).
"""

from __future__ import annotations

import numpy as np

from osmquadtree_rust_bindings_spark import kernels as K

CELL_LEVEL = 12


def _rot(n, x, y, rx, ry):
    """Hilbert quadrant rotation (vectorized)."""
    swap = ry == 0
    flip = swap & (rx == 1)
    x2 = np.where(flip, n - 1 - x, x)
    y2 = np.where(flip, n - 1 - y, y)
    return np.where(swap, y2, x2), np.where(swap, x2, y2)


def hilbert_d(x, y, level: int = CELL_LEVEL):
    """(x, y) grid indices at ``level`` → Hilbert curve distance."""
    x = np.asarray(x).astype(np.int64).copy()
    y = np.asarray(y).astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << np.int64(level - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        x, y = _rot(s, x, y, rx, ry)
        s >>= 1
    return d


def hilbert_xy(d, level: int = CELL_LEVEL):
    """Inverse: Hilbert distance → (x, y)."""
    d = np.asarray(d).astype(np.int64)
    t = d.copy()
    x = np.zeros_like(d)
    y = np.zeros_like(d)
    s = np.int64(1)
    n = np.int64(1) << np.int64(level)
    while s < n:
        rx = (t // 2) & 1
        ry = (t ^ rx) & 1
        x, y = _rot(s, x, y, rx, ry)
        x = x + s * rx
        y = y + s * ry
        t //= 4
        s <<= 1
    return x, y


def cell_from_lonlat(lon_i, lat_i, level: int = CELL_LEVEL):
    """int 1e-7 deg point → packed hilbert cell id."""
    x, y = K.norm_xy(lon_i, lat_i)
    n = np.int64(1) << np.int64(level)
    ix = np.clip(np.floor(x * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(y * n).astype(np.int64), 0, n - 1)
    return (np.int64(level) << np.int64(58)) | hilbert_d(ix, iy, level)


def cell_level(cell):
    return (np.asarray(cell).astype(np.int64) >> np.int64(58)) & np.int64(31)


def cell_to_xy(cell, level: int = CELL_LEVEL):
    d = np.asarray(cell).astype(np.int64) & ((np.int64(1) << np.int64(58)) - 1)
    return hilbert_xy(d, level)


def k_ring(cell, k: int, level: int = CELL_LEVEL):
    """All cells within Chebyshev distance k (the (2k+1)^2 block), clipped to
    the grid.  Returns a 2-D array (len(cell), <= (2k+1)^2) padded with -1.
    This is the kNN expansion primitive (J10): ring r >= 1 guarantees any
    point within one cell-size * r is covered.
    """
    x, y = cell_to_xy(cell, level)
    n = np.int64(1) << np.int64(level)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    ox, oy = np.meshgrid(offs, offs)
    ox, oy = ox.ravel(), oy.ravel()
    xs = x[:, None] + ox[None, :]
    ys = y[:, None] + oy[None, :]
    # clamp x (antimeridian not wrapped in the normalized plane) and y
    valid = (xs >= 0) & (xs < n) & (ys >= 0) & (ys < n)
    ids = (np.int64(level) << np.int64(58)) | hilbert_d(
        np.clip(xs, 0, n - 1), np.clip(ys, 0, n - 1), level)
    return np.where(valid, ids, np.int64(-1))
