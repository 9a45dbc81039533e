"""Osmosis .poly polygon-filter format (reference Poly,
src/readpbf.rs:718-771: ``from_file``, ``bounds``, ``check_box``,
``contains_point`` over parallel f64 vertex arrays).  ``parse_poly``
takes the file's text; the caller reads the file.

Format::

    <name>
    <section name>
        <lon> <lat>
        ...
    END
    !<hole section>
        ...
    END
    END

Output is the polygon frame shape consumed by
``operators.spatial_join.pip_join`` — one row per ring with int 1e-7-deg
vertex arrays and the precomputed bbox (the reference's ``bounds`` /
``check_box`` pruning data).  ``pip_join`` takes it as pandas or as a
DataFrame; either way it splits each ring into edges in Column algebra
and copies an edge only to the cover rows it spans, so a region ring of
10^4-10^5 vertices is never copied whole per candidate.  Holes get
``is_hole=True``; a point is inside the filter iff it is inside an outer
ring and in no hole (``contains_point`` semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from osmquadtree_rust_bindings_spark import kernels as K


def parse_poly(text: str, name: str | None = None) -> pd.DataFrame:
    lines = [ln.strip() for ln in text.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("empty .poly text")
    fname = name if name is not None else lines[0]
    rows = []
    i = 1
    while i < len(lines):
        header = lines[i]
        if header == "END":  # file terminator
            break
        is_hole = header.startswith("!")
        ring_name = header.lstrip("!")
        i += 1
        vx, vy = [], []
        while i < len(lines) and lines[i] != "END":
            parts = lines[i].split()
            if len(parts) != 2:
                raise ValueError(f"bad vertex line: {lines[i]!r}")
            vx.append(int(round(float(parts[0]) * K.COORD_SCALE)))
            vy.append(int(round(float(parts[1]) * K.COORD_SCALE)))
            i += 1
        if i >= len(lines):
            raise ValueError(f"unterminated section {ring_name!r}")
        i += 1  # consume section END
        if len(vx) < 3:
            raise ValueError(f"section {ring_name!r} has < 3 vertices")
        # the format repeats the first vertex to close the ring; drop it
        if vx[0] == vx[-1] and vy[0] == vy[-1]:
            vx, vy = vx[:-1], vy[:-1]
        ax = np.array(vx, dtype=np.int64)
        ay = np.array(vy, dtype=np.int64)
        rows.append({
            "poly_id": f"{fname}/{ring_name}",
            "verts_lon": ax.tolist(), "verts_lat": ay.tolist(),
            "minlon": int(ax.min()), "minlat": int(ay.min()),
            "maxlon": int(ax.max()), "maxlat": int(ay.max()),
            "is_hole": is_hole,
        })
    return pd.DataFrame(rows)


def bounds(pdf: pd.DataFrame) -> tuple[int, int, int, int]:
    """Poly.bounds: overall bbox of the outer rings, int 1e-7 deg."""
    outer = pdf[~pdf.is_hole]
    return (int(outer.minlon.min()), int(outer.minlat.min()),
            int(outer.maxlon.max()), int(outer.maxlat.max()))


def check_box(pdf: pd.DataFrame, minlon: int, minlat: int,
              maxlon: int, maxlat: int) -> bool:
    """Poly.check_box: cheap bbox-overlap prune (true = may intersect)."""
    x0, y0, x1, y1 = bounds(pdf)
    return not (maxlon < x0 or minlon > x1 or maxlat < y0 or minlat > y1)
