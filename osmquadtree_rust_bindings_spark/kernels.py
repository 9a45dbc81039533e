"""Pure-numpy kernels: quadtree keys, mercator, calc_qts.

These functions are the NORMATIVE implementation of SURVEY.md section 8 and
double as the test oracle for the Spark Column/SQL implementations in
``functions.quadtree``.  Everything is vectorized over numpy arrays; scalars
work too (numpy broadcasting).

Reference semantics being reimplemented (citations into /root/reference):
- Quadtree i64 key + views/ops          src/elements.rs:29-65
- ``as_bbox(buffer)``                   src/elements.rs:41-44
- calc_qts (point / buffered bbox)      src/sortblocks.rs:7-21 (+ section 8 spec)
- spherical-mercator forward            src/geometry.rs:176-183

Key layout (SURVEY.md section 8.3)
----------------------------------
``qt = morton(ix, iy) << (63 - 2*depth) | depth`` with depth in the low 5
bits and 2-bit quadrant digits packed from bit 61 downward; digit bit1 = x
half, bit0 = y half.  This makes i64 order a depth-first spatial order,
``round`` a mask, and a cell prefix a contiguous i64 key range (used for
partition pruning).  Empty sentinel = -1 (reference Quadtree::empty(),
src/elements.rs:22-24).
"""

from __future__ import annotations

import numpy as np

COORD_SCALE = 10_000_000
MAX_DEPTH = 18
QT_BUFFER = 0.05
# Integer descent units: whole axis = BUF_DEN * 2 * 2**MAX_DEPTH units so that
# a 0.05 (=1/20) buffer of any cell size and any midpoint halving are exact
# integers (no float compare in the descent loop).
BUF_DEN = 20
UNITS = 2 * BUF_DEN * (1 << MAX_DEPTH)  # 10_485_760 units across each axis

EMPTY = np.int64(-1)

_M1 = np.uint64(0x0000FFFF0000FFFF)
_M2 = np.uint64(0x00FF00FF00FF00FF)
_M3 = np.uint64(0x0F0F0F0F0F0F0F0F)
_M4 = np.uint64(0x3333333333333333)
_M5 = np.uint64(0x5555555555555555)


# ---------------------------------------------------------------- mercator

def merc_y(lat_deg):
    """Spherical web-mercator y, scaled so lat in (-85.0511, 85.0511) maps to
    (-1, 1) like lon/180 (reference LonLat::forward, src/geometry.rs:176-183).
    """
    lat_deg = np.asarray(lat_deg, dtype=np.float64)
    return np.log(np.tan(np.pi / 4 + (lat_deg * (np.pi / 180)) / 2)) / np.pi


def inv_merc_y(y):
    """Inverse of :func:`merc_y` → latitude in degrees."""
    y = np.asarray(y, dtype=np.float64)
    return (2 * np.arctan(np.exp(y * np.pi)) - np.pi / 2) * (180 / np.pi)


def norm_xy(lon_i, lat_i):
    """int 1e-7 deg lon/lat → normalized (x, y) in [0, 1)."""
    lon_i = np.asarray(lon_i, dtype=np.float64)
    lat_i = np.asarray(lat_i, dtype=np.float64)
    x = (lon_i / COORD_SCALE + 180.0) / 360.0
    y = (merc_y(lat_i / COORD_SCALE) + 1.0) / 2.0
    return x, y


# ---------------------------------------------------------------- bit plumbing

def _spread(v):
    """Interleave zeros between bits: 18-bit value → 36-bit even positions."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & _M1
    v = (v | (v << np.uint64(8))) & _M2
    v = (v | (v << np.uint64(4))) & _M3
    v = (v | (v << np.uint64(2))) & _M4
    v = (v | (v << np.uint64(1))) & _M5
    return v


def _compact(v):
    """Inverse of :func:`_spread`."""
    v = v.astype(np.uint64) & _M5
    v = (v | (v >> np.uint64(1))) & _M4
    v = (v | (v >> np.uint64(2))) & _M3
    v = (v | (v >> np.uint64(4))) & _M2
    v = (v | (v >> np.uint64(8))) & _M1
    v = (v | (v >> np.uint64(16))) & np.uint64(0xFFFFFFFF)
    return v


# ---------------------------------------------------------------- qt core

def qt_from_cell(ix, iy, depth):
    """Cell indices at ``depth`` → qt key (vectorized; depth may be array)."""
    ix = np.asarray(ix).astype(np.uint64)
    iy = np.asarray(iy).astype(np.uint64)
    d = np.asarray(depth).astype(np.uint64)
    morton = (_spread(ix) << np.uint64(1)) | _spread(iy)
    qt = (morton << (np.uint64(63) - np.uint64(2) * d)) | d
    return qt.astype(np.int64)


def qt_to_cell(qt):
    """qt key → (ix, iy, depth) arrays."""
    qt = np.asarray(qt).astype(np.int64)
    d = (qt & np.int64(31)).astype(np.uint64)
    morton = qt.astype(np.uint64) >> (np.uint64(63) - np.uint64(2) * d)
    ix = _compact(morton >> np.uint64(1))
    iy = _compact(morton)
    return ix.astype(np.int64), iy.astype(np.int64), d.astype(np.int64)


def qt_depth(qt):
    return (np.asarray(qt).astype(np.int64) & np.int64(31)).astype(np.int64)


def qt_round(qt, nd):
    """Truncate to depth nd (deepest ancestor at that depth).

    Reference Quadtree.round (src/elements.rs:39).
    """
    qt = np.asarray(qt).astype(np.int64)
    nd_a = np.broadcast_to(np.asarray(nd, np.int64), qt.shape).astype(np.uint64)
    d = (qt & np.int64(31)).astype(np.uint64)
    eff = np.minimum(nd_a, d)
    mask = (~np.uint64(0)) << (np.uint64(63) - np.uint64(2) * eff)
    out = ((qt.astype(np.uint64) & mask) | eff).astype(np.int64)
    return np.where(qt == EMPTY, EMPTY, out)


def qt_is_parent(parent, child):
    """Prefix test (reference Quadtree.is_parent, src/elements.rs:40)."""
    parent = np.asarray(parent).astype(np.int64)
    child = np.asarray(child).astype(np.int64)
    pd = parent & np.int64(31)
    cd = child & np.int64(31)
    return (cd >= pd) & (qt_round(child, pd) == parent)


def qt_common(a, b):
    """Lowest common ancestor of two qt keys; empty propagates the other."""
    a = np.atleast_1d(np.asarray(a)).astype(np.int64)
    b = np.atleast_1d(np.asarray(b)).astype(np.int64)
    da = (a & np.int64(31)).astype(np.int64)
    db = (b & np.int64(31)).astype(np.int64)
    dmin = np.minimum(da, db)
    # digit fields (bits 27..62 for MAX_DEPTH=18; digits beyond depth are 0)
    diff = (a ^ b).astype(np.uint64) & (~np.uint64(0) << np.uint64(63 - 2 * MAX_DEPTH))
    nz = diff != 0
    # highest set bit of diff via branchless bit search:
    v = diff.copy()
    pos = np.zeros(v.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        m = v >= (np.uint64(1) << np.uint64(shift))
        pos[m] += shift
        v[m] >>= np.uint64(shift)
    # bit index `pos` (0-based) differs where diff!=0; matching pairs above it:
    match_pairs = np.where(nz, (np.int64(62) - pos) // 2, np.int64(MAX_DEPTH))
    depth = np.minimum(dmin, match_pairs)
    out = qt_round(a, depth)
    out = np.where((a == EMPTY) & (b != EMPTY), b, out)
    out = np.where((b == EMPTY) & (a != EMPTY), a, out)
    out = np.where((a == EMPTY) & (b == EMPTY), EMPTY, out)
    return out.astype(np.int64)


def qt_to_string(qt):
    """Digits as letters A=0..D=3 (reference src/elements.rs:36)."""
    qt = np.atleast_1d(np.asarray(qt).astype(np.int64))
    d = qt & np.int64(31)
    out = []
    for q, dd in zip(qt.tolist(), d.tolist()):
        if q == -1:
            out.append("")
            continue
        s = []
        for i in range(dd):
            digit = (q >> (61 - 2 * i)) & 3
            s.append("ABCD"[digit])
        out.append("".join(s))
    return np.array(out, dtype=object)


def qt_from_string(s):
    qt = 0
    for i, ch in enumerate(s):
        qt |= "ABCD".index(ch) << (61 - 2 * i)
    return np.int64(qt | len(s))


def qt_key_range(qt):
    """(lo, hi) inclusive i64 range covering qt and all descendants.

    The section-8 layout makes a prefix a contiguous key range — this is the
    predicate used for partition pruning (SURVEY.md section 4).
    """
    qt = np.asarray(qt).astype(np.int64)
    d = (qt & np.int64(31)).astype(np.uint64)
    lo = qt  # parent sorts before all descendants (digits equal, depth lowest)
    span = (~np.uint64(0)) >> (np.uint64(1) + np.uint64(2) * d)
    hi = (qt.astype(np.uint64) | span).astype(np.int64)
    return lo, hi


# ---------------------------------------------------------------- as_bbox

def qt_as_bbox(qt, buffer: float = 0.0):
    """Cell lon/lat bbox expanded by ``buffer`` fraction per side, int 1e-7 deg.

    Reference Quadtree.as_bbox (src/elements.rs:41-44).
    Returns (minlon, minlat, maxlon, maxlat) int64 arrays.
    """
    ix, iy, d = qt_to_cell(qt)
    size = np.power(2.0, -d.astype(np.float64))
    x0 = ix * size - buffer * size
    x1 = (ix + 1) * size + buffer * size
    y0 = iy * size - buffer * size
    y1 = (iy + 1) * size + buffer * size
    minlon = np.round((x0 * 360.0 - 180.0) * COORD_SCALE).astype(np.int64)
    maxlon = np.round((x1 * 360.0 - 180.0) * COORD_SCALE).astype(np.int64)
    minlat = np.round(inv_merc_y(2 * y0 - 1) * COORD_SCALE).astype(np.int64)
    maxlat = np.round(inv_merc_y(2 * y1 - 1) * COORD_SCALE).astype(np.int64)
    return minlon, minlat, maxlon, maxlat


# ---------------------------------------------------------------- calc_qts

def to_units(x_norm):
    """Normalized [0,1) coordinate → integer descent units, clipped."""
    u = np.floor(np.asarray(x_norm, np.float64) * UNITS).astype(np.int64)
    return np.clip(u, 0, UNITS - 1)


def calcqts_point(lon_i, lat_i, max_depth: int = MAX_DEPTH):
    """qt of a point = deepest cell at max_depth containing it (section 8.4)."""
    x, y = norm_xy(lon_i, lat_i)
    n = np.int64(1) << np.int64(max_depth)
    ix = np.clip(np.floor(x * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor(y * n).astype(np.int64), 0, n - 1)
    return qt_from_cell(ix, iy, np.full_like(ix, max_depth))


def calcqts_bbox(minlon, minlat, maxlon, maxlat,
                 buffer: float = QT_BUFFER, max_depth: int = MAX_DEPTH):
    """qt of a bbox: descend from root while the buffer-expanded child cell of
    the box midpoint still contains the whole box (section 8.4; reference
    run_calcqts way semantics, src/sortblocks.rs:7-21).

    Fully integer after one float→unit conversion per coordinate, so the
    Spark/SQL implementations can match bit-for-bit.  ``buffer`` must equal
    1/BUF_DEN (0.05) for the integer fast path; other values use floats.
    """
    x0u = to_units(norm_xy(minlon, np.zeros_like(minlon))[0])
    x1u = to_units(norm_xy(maxlon, np.zeros_like(maxlon))[0])
    y0u = to_units((merc_y(np.asarray(minlat, np.float64) / COORD_SCALE) + 1.0) / 2.0)
    y1u = to_units((merc_y(np.asarray(maxlat, np.float64) / COORD_SCALE) + 1.0) / 2.0)
    if abs(buffer - 1.0 / BUF_DEN) > 1e-12:
        raise NotImplementedError("integer descent requires buffer == 1/BUF_DEN")

    mx = (x0u + x1u) >> 1
    my = (y0u + y1u) >> 1
    # Containment at depth d (cell of the fixed midpoint, 0.05-buffered) is
    # monotone: buffered child cells are nested across depths (5% of a
    # halved cell extends less than 5% of its parent), so the final depth is
    # the largest d with cond(d) true — found by binary lifting in 5 probes
    # instead of 18 sequential levels.  Each probe is pure shift/mask math:
    # with mx = BUF_DEN*qx + rx0 and cell size s = BUF_DEN << m, the offset
    # within the cell is mx mod s = BUF_DEN*(qx & (2^m - 1)) + rx0 and the
    # buffer is exactly b = 1 << m units.
    qx, rx0 = np.divmod(mx, BUF_DEN)
    qy, ry0 = np.divmod(my, BUF_DEN)
    dx0 = mx - x0u
    dx1 = x1u - mx
    dy0 = my - y0u
    dy1 = y1u - my
    shift0 = int(np.log2(UNITS // (2 * BUF_DEN)))  # s(d) = BUF_DEN << (shift0+1-d)

    def cond(d):
        """box fits the buffered depth-d cell of the midpoint (d >= 1)."""
        m = (np.int64(shift0 + 1) - d).astype(np.int64)
        s = np.int64(BUF_DEN) << m
        b = np.int64(1) << m
        rx = BUF_DEN * (qx & (b - 1)) + rx0
        ry = BUF_DEN * (qy & (b - 1)) + ry0
        return ((dx0 <= rx + b) & (dx1 <= s - rx + b)
                & (dy0 <= ry + b) & (dy1 <= s - ry + b))

    depth = np.zeros(mx.shape, dtype=np.int64)
    step = 1 << (int(max_depth).bit_length() - 1)  # largest pow2 <= max_depth
    while step:
        cand = depth + step
        valid = cand <= max_depth
        good = valid & cond(np.where(valid, cand, 1))
        depth = np.where(good, cand, depth)
        step >>= 1
    s_f = (np.int64(UNITS) >> depth.astype(np.int64))
    ix = mx // s_f
    iy = my // s_f
    return qt_from_cell(ix, iy, depth)


def calcqts_point_bbox(lon_i, lat_i, w=None, h=None, ground_res: int = 10_000,
                       buffer: float = QT_BUFFER, max_depth: int = MAX_DEPTH):
    """FIXTURES.md section 1.1: image footprint bbox = point ± (w,h)*R/2."""
    lon_i = np.asarray(lon_i, np.int64)
    lat_i = np.asarray(lat_i, np.int64)
    dw = (np.asarray(w, np.int64) * ground_res) // 2
    dh = (np.asarray(h, np.int64) * ground_res) // 2
    return calcqts_bbox(lon_i - dw, lat_i - dh, lon_i + dw, lat_i + dh,
                        buffer=buffer, max_depth=max_depth)


# ------------------------------------------------------- derived geolocation

def phash_lonlat(phash):
    """FIXTURES.md section 1.1: deterministic (lon_i, lat_i) from phash bits."""
    p = np.asarray(phash).astype(np.int64).astype(np.uint64)
    hi = (p >> np.uint64(32)).astype(np.float64)
    lo = (p & np.uint64(0xFFFFFFFF)).astype(np.float64)
    lon = (hi / 2.0 ** 32 * 3_600_000_000).astype(np.int64) - 1_800_000_000
    lat = (lo / 2.0 ** 32 * 1_700_000_000).astype(np.int64) - 850_000_000
    return lon, lat


# ---------------------------------------------------------------- haversine

def haversine_m(lon1_i, lat1_i, lon2_i, lat2_i, radius: float = 6_371_000.0):
    """Great-circle distance in meters between int 1e-7 deg points."""
    lon1 = np.asarray(lon1_i, np.float64) / COORD_SCALE * (np.pi / 180)
    lat1 = np.asarray(lat1_i, np.float64) / COORD_SCALE * (np.pi / 180)
    lon2 = np.asarray(lon2_i, np.float64) / COORD_SCALE * (np.pi / 180)
    lat2 = np.asarray(lat2_i, np.float64) / COORD_SCALE * (np.pi / 180)
    a = np.sin((lat2 - lat1) / 2) ** 2 + \
        np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2) ** 2
    return 2 * radius * np.arcsin(np.sqrt(np.clip(a, 0, 1)))


# ---------------------------------------------------------------- PIP kernel

def points_in_polygon(lon_i, lat_i, verts_lon, verts_lat):
    """Vectorized ray-crossing point-in-polygon (strict interior), matching
    shapely ``contains`` semantics on boundary exclusion for generic points.

    Reference analogue: Poly.contains_point (src/readpbf.rs:761-763).
    verts_*: 1-D float64 arrays (deg 1e-7 int or float) of the ring, unclosed.
    Returns bool array over the points.
    """
    x = np.asarray(lon_i, np.float64)
    y = np.asarray(lat_i, np.float64)
    vx = np.asarray(verts_lon, np.float64)
    vy = np.asarray(verts_lat, np.float64)
    n = len(vx)
    inside = np.zeros(x.shape, dtype=bool)
    j = n - 1
    with np.errstate(divide="ignore", invalid="ignore"):
        for i in range(n):
            # horizontal edges (vy[j]==vy[i]) are masked by the first clause
            cond = ((vy[i] > y) != (vy[j] > y)) & (
                x < (vx[j] - vx[i]) * (y - vy[i]) / (vy[j] - vy[i]) + vx[i]
            )
            inside ^= cond
            j = i
    return inside
