"""Douglas-Peucker polygon simplification over GeoJSON MultiPolygon columns.

The vertex-budget step of map tiling: low zoom levels don't need a
24-vertex circle ring. `simplify_geometries` runs iterative (explicit
stack) Douglas-Peucker per ring on the one Arrow stage
(operators/boolean_join.py::geometry_stage) — vectorized NumPy distance
rows per split, no per-row Python in the driver path.

Semantics (the g17 oracle fixture pins them; the generator recomputes
with an INDEPENDENT recursive scalar implementation in
scripts/gen_geo_oracle_fixtures.py::_dp_recursive):

- each ring is a closed polyline p0..p_{n-1} with p_{n-1} == p0; DP runs
  on the whole closed polyline with both endpoints anchored (so p0 is
  always kept and closure is preserved);
- the split distance is the squared PERPENDICULAR-TO-THE-LINE distance
  ``cross^2 / |b-a|^2`` with ``cross = (bx-ax)*(ay-py) - (ax-px)*(by-ay)``,
  degenerating to the squared point distance to `a` when the anchors
  coincide — the exact expression both implementations share, term for
  term, so their doubles are bit-identical;
- a point splits iff its d2 is STRICTLY greater than tol^2; the argmax
  tie-break is FIRST max (NumPy argmax == the scalar strict-> scan);
- a simplified ring keeps closure; if fewer than 4 points survive
  (triangle + closing vertex) the ring is DROPPED; dropping a polygon's
  exterior ring (index 0) drops the polygon, holes and all.

100 TB shape: a pure map stage over the geometry column — no shuffle,
Arrow-batched, output strictly smaller than input. Reference analogue:
none in the boolean kernel (tiling-engine requirement); the ring walks
cite the contour traversal shape of `lib/src/boolean/connect_edges.rs`.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..kernel.geojson import serialize_multipolygon
from .boolean_join import geometry_stage

# the g17 query/fixture tolerance (corpus shapes span ~100-150 units;
# 2.0 thins the 24-vertex circle rings, leaves rectangle corners intact)
DEFAULT_SIMPLIFY_TOL = 2.0

# the payload after the carried case_id and role
SIMPLIFY_SCHEMA = (
    "n_vertices_in int, n_vertices_out int, simplified_json string, status string"
)


def _dp_keep_mask(xs: np.ndarray, ys: np.ndarray, tol2: float) -> np.ndarray:
    """Iterative Douglas-Peucker keep-mask over an open polyline (both
    endpoints anchored). Vectorized distance rows per (lo, hi) segment."""
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi - lo < 2:
            continue
        ax, ay, bx, by = xs[lo], ys[lo], xs[hi], ys[hi]
        px = xs[lo + 1 : hi]
        py = ys[lo + 1 : hi]
        if ax == bx and ay == by:
            d2 = (px - ax) * (px - ax) + (py - ay) * (py - ay)
        else:
            cross = (bx - ax) * (ay - py) - (ax - px) * (by - ay)
            d2 = cross * cross / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
        i = int(np.argmax(d2))  # first max, matches the scalar strict-> scan
        if d2[i] > tol2:
            split = lo + 1 + i
            keep[split] = True
            stack.append((lo, split))
            stack.append((split, hi))
    return keep


def simplify_multipolygon(coords, tol: float):
    """Simplify MultiPolygon coordinates (polygons -> rings -> [x, y]);
    returns new coordinates with the ring/polygon drop rules above."""
    tol2 = tol * tol
    out_polys = []
    for poly in coords:
        out_rings = []
        for ring_idx, ring in enumerate(poly):
            if len(ring) < 4:
                continue
            xs = np.asarray([p[0] for p in ring], dtype=np.float64)
            ys = np.asarray([p[1] for p in ring], dtype=np.float64)
            keep = _dp_keep_mask(xs, ys, tol2)
            if int(keep.sum()) < 4:
                if ring_idx == 0:
                    out_rings = None
                    break
                continue
            out_rings.append(
                [[float(x), float(y)] for x, y in zip(xs[keep], ys[keep])]
            )
        if out_rings:
            out_polys.append(out_rings)
    return out_polys


def _n_vertices(coords) -> int:
    return sum(len(r) for p in coords for r in p)


def simplify_geometries(
    geoms: DataFrame, tol: float, geom_col: str = "geom_json"
) -> DataFrame:
    """(case_id, role, geom_json) -> per-geometry simplification stats +
    the simplified geometry serialized with the kernel's byte-parity
    compact serializer (so an md5 over it is engine-independent), and a
    status (see `geometry_stage`: a geometry the validity rule rejects
    gives an 'invalid_input' row with zero counts and the empty
    MultiPolygon)."""

    def simplify_row(coords):
        out = simplify_multipolygon(coords, tol)
        return _n_vertices(coords), _n_vertices(out), serialize_multipolygon(out)

    return geometry_stage(geoms, geom_col, ("case_id", "role"), simplify_row, SIMPLIFY_SCHEMA)
