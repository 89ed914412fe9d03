"""Convex hull over GeoJSON MultiPolygon columns (Andrew monotone chain).

The footprint/coverage step of tiling analytics: a geometry's convex hull
bounds its tile cover and gives the cheap "could these ever interact"
test that precedes exact kernel work. `convex_hull_geometries` runs
Andrew's monotone chain per geometry on the one Arrow stage
(operators/boolean_join.py::geometry_stage).

Semantics (the g18 oracle fixture pins them; the generator recomputes
with an INDEPENDENT gift-wrapping / Jarvis-march implementation in
scripts/gen_geo_oracle_fixtures.py::_jarvis_hull — same cross-product
expression term for term, completely different control flow):

- input points are ALL ring vertices of the MultiPolygon, exactly
  deduplicated as (x, y) float pairs (GeoJSON ring closure contributes
  no extra point);
- the hull keeps STRICT corners only — collinear boundary points are
  dropped (monotone chain pops on cross <= 0; Jarvis picks the farthest
  among collinear candidates). The corpus's collinear triples are
  axis-aligned small doubles, so both engines' cross products are
  exactly 0.0 — no sign-of-epsilon divergence;
- the cross product is ``(ax-ox)*(by-oy) - (ay-oy)*(bx-ox)`` — the
  SINGLE expression both implementations share, term for term;
- output ring is counter-clockwise, starts at the lexicographically
  smallest point (x, then y), and is closed (first vertex repeated at
  the end), serialized with the kernel's byte-parity compact serializer
  so an md5 over it is engine-independent;
- fewer than 3 distinct points is degenerate: the "ring" is the sorted
  points plus closure (never produced by the corpus; pinned by a unit
  test so the twin can't silently diverge).

100 TB shape: a pure map stage over the geometry column — no shuffle,
Arrow-batched, output strictly smaller than input. Reference analogue:
none (tiling-engine requirement, like g14/g17).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..kernel.geojson import serialize_multipolygon
from .boolean_join import geometry_stage

# the payload after the carried case_id and role
HULL_SCHEMA = "n_points int, n_hull_vertices int, hull_json string, status string"


def _cross(ox, oy, ax, ay, bx, by):
    """Signed area of (o->a, o->b) — the shared g18 cross expression."""
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def _chain(pts):
    """One monotone half-hull over `pts`, popping on cross <= 0."""
    out = []
    for p in pts:
        while len(out) >= 2 and _cross(*out[-2], *out[-1], *p) <= 0.0:
            out.pop()
        out.append(p)
    return out


def monotone_chain(points):
    """Andrew's monotone chain over deduped, lexicographically sorted
    (x, y) tuples. Returns the OPEN counter-clockwise hull starting at
    the smallest point; strict corners only (cross <= 0 pops)."""
    pts = sorted(set(points))
    if len(pts) < 3:
        return pts
    return _chain(pts)[:-1] + _chain(reversed(pts))[:-1]


def multipolygon_hull(coords):
    """MultiPolygon coordinates -> (n_distinct_points, closed hull ring
    as [[x, y], ...])."""
    points = {
        (float(p[0]), float(p[1]))
        for poly in coords
        for ring in poly
        for p in ring
    }
    hull = monotone_chain(points)
    closed = [[x, y] for x, y in hull]
    if closed:
        closed.append(list(closed[0]))
    return len(points), closed


def _hull_row(coords):
    n_points, ring = multipolygon_hull(coords)
    hull_json = serialize_multipolygon([[ring]] if ring else [])
    return n_points, max(len(ring) - 1, 0), hull_json


def convex_hull_geometries(geoms: DataFrame, geom_col: str = "geom_json") -> DataFrame:
    """(case_id, role, geom_json) -> per-geometry convex hull stats + the
    hull serialized as a single-polygon MultiPolygon with the kernel's
    byte-parity compact serializer, and a status (see `geometry_stage`:
    a geometry the validity rule rejects gives an 'invalid_input' row
    with zero counts and the empty MultiPolygon)."""
    return geometry_stage(geoms, geom_col, ("case_id", "role"), _hull_row, HULL_SCHEMA)
