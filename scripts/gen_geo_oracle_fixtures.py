"""Regenerate the geo-pipeline oracle fixtures (g01-g03/g09/g16-g20).

Two provenance classes, both committed under tests/oracle_fixtures/:

- g01/g02/g03 (generated-oracle pattern, like d02): expected boolean-op
  polygon counts, tile assignments, and per-tile clip counts for corpus
  cases 0..2499 (covers sf0.1; the oracle SQL joins against the
  `documents` view so smaller scale factors grade the subset of cases
  they contain). Computed with the PURE-PYTHON kernel pair runner and
  the operators' own tile math, WITHOUT Spark — the DuckDB comparison
  then cross-checks the whole distributed path (extraction, pair
  shuffle, the native C kernel stage, tile explode, clip) against a
  locally-computed pure-Python result.

- g09 (REFERENCE-DATA oracle — no kernel involved): for every expected
  feature annotated in the reference's own GeoJSON fixture corpus
  (`kernel.geojson.reference_case_files()`, read in place),
  the expected polygon count and exact_match=true. The Spark query runs
  each annotated op through the kernel and compares its serialized
  result byte-for-byte against the fixture's expected geometry, so a
  hash-green g09 is driver-gate-level proof of fixture exactness.

Run after any change to the kernel, corpus templates, tiling math, or
the GeoJSON fixture parser. Freshness is pinned by
tests/test_oracle_fixtures.py (sampled for g01-g03, full for g09).

Usage: python scripts/gen_geo_oracle_fixtures.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXDIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracle_fixtures"
)
N_CASES = 2500  # sf0.1's documents table: doc_ids 0..4999 -> cases 0..2499
OPS = ("intersection", "union", "diff", "xor")  # boolean_join.DEFAULT_OPS
TILE_LEVEL = 4  # tiling.DEFAULT_TILE_LEVEL
G20_LEVEL = 6  # finer grid for area weights (subjects straddle ~10 tiles);
# must match the level passed in __spark_entry__._g20_tile_weights


def geo_case_rows(case_ids):
    """Pure-Python-kernel expected rows for g01/g02/g03 over `case_ids`.

    Returns (g01_rows, g02_rows, g03_rows):
      g01: (case_id, op, n_polys)
      g02: (case_id, op, tile_id|None)          # one row per covering tile
      g03: (case_id, tile_id|None, url, op, n_polys)
    Mirrors boolean_pipeline -> assign_tiles -> clip_to_tiles exactly
    (incl. explode_outer's untiled NULL-tile rows for empty/limit results
    and clip's n_polys=0 degradation on non-ok clip status).
    """
    from rust_geo_booleanop_spark.functions.cells import bbox_cover_cells
    from rust_geo_booleanop_spark.kernel.pairs import pair_boolean_ops_python
    from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
    from rust_geo_booleanop_spark.operators.tiling import tile_square_json
    from rust_geo_booleanop_spark.sources.corpus import case_geometry
    from rust_geo_booleanop_spark.sources.documents import synth_url

    g01, g02, g03 = [], [], []
    for case_id in case_ids:
        subject, clipping = case_geometry(case_id)
        s_json = serialize_multipolygon(subject)
        c_json = serialize_multipolygon(clipping)
        url = synth_url(2 * case_id)  # clip keys rows by subject_url
        for op, result_json, n_polys, xmin, ymin, xmax, ymax, _status in (
            pair_boolean_ops_python(s_json, c_json, OPS)
        ):
            g01.append((case_id, op, n_polys))
            tiles = bbox_cover_cells(xmin, ymin, xmax, ymax, TILE_LEVEL)
            if not tiles:
                g02.append((case_id, op, None))
                g03.append((case_id, None, url, op, 0))
                continue
            for tid in tiles:
                g02.append((case_id, op, tid))
                ((_, _, cn, _, _, _, _, cstatus),) = pair_boolean_ops_python(
                    result_json, tile_square_json(int(tid)), ("intersection",)
                )
                if cstatus != "ok":
                    cn = 0
                g03.append((case_id, int(tid), url, op, cn))
    return g01, g02, g03


def g11_dissolve_rows(n_docs: int = 500):
    """Expected dissolve output for the g11 query at sf0.01, computed with
    the PURE-PYTHON kernel and a FLAT sorted fold per key — deliberately a
    different fold structure than the operator's two-level salted buckets
    (operators/dissolve.py), so the gate comparison cross-checks both the
    distributed path AND that the dissolve result is independent of fold
    grouping, not just reproducible. Returns [(template_kind, n_polys,
    status), ...]."""
    from rust_geo_booleanop_spark.kernel import boolean_op
    from rust_geo_booleanop_spark.kernel.booleanop import KernelLimitExceeded
    from rust_geo_booleanop_spark.kernel.geojson import (
        parse_multipolygon,
        serialize_multipolygon,
    )
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    groups: dict[str, list[str]] = {}
    for case in range(n_docs // 2):
        subject, _ = case_geometry(case)
        groups.setdefault(str(case % 8), []).append(serialize_multipolygon(subject))
    rows = []
    for key in sorted(groups):
        acc = None
        try:
            for gj in sorted(groups[key]):
                mp = parse_multipolygon(gj)
                acc = mp if acc is None else boolean_op(acc, mp, "union")
            rows.append((key, len(acc or []), "ok"))
        except KernelLimitExceeded:
            rows.append((key, 0, "limit_exceeded"))
    return rows


def g16_measure_rows(case_ids):
    """Expected geometry measures per (case_id, role), computed by the
    CPython twin `measures_python` (identical FP fold order to the JVM
    expressions in operators/measures.py) over the same serialized
    geometry bytes the extraction stage sees in the html payload."""
    from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
    from rust_geo_booleanop_spark.operators.measures import measures_python
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    rows = []
    for case_id in case_ids:
        subject, clipping = case_geometry(case_id)
        for role, mp in (("subject", subject), ("clipping", clipping)):
            m = measures_python(serialize_multipolygon(mp))
            rows.append((case_id, role, m))
    return rows


def _dp_recursive(ring, tol2):
    """INDEPENDENT recursive scalar Douglas-Peucker (the twin check for
    operators/simplify.py's iterative NumPy implementation): same
    per-point distance expression term for term, different control flow
    (recursion + scalar loops vs explicit stack + vectorized rows), so a
    g17 match cross-checks the algorithm, not just reproducibility.
    Returns the sorted kept indices of the closed ring."""
    kept = {0, len(ring) - 1}

    def rec(lo, hi):
        if hi - lo < 2:
            return
        ax, ay = ring[lo][0], ring[lo][1]
        bx, by = ring[hi][0], ring[hi][1]
        best_i, best_d2 = -1, -1.0
        for i in range(lo + 1, hi):
            px, py = ring[i][0], ring[i][1]
            if ax == bx and ay == by:
                d2 = (px - ax) * (px - ax) + (py - ay) * (py - ay)
            else:
                cross = (bx - ax) * (ay - py) - (ax - px) * (by - ay)
                d2 = cross * cross / ((bx - ax) * (bx - ax) + (by - ay) * (by - ay))
            if d2 > best_d2:  # strict: FIRST max wins, like np.argmax
                best_i, best_d2 = i, d2
        if best_d2 > tol2:
            kept.add(best_i)
            rec(lo, best_i)
            rec(best_i, hi)

    rec(0, len(ring) - 1)
    return sorted(kept)


def g17_simplify_rows(case_ids, tol=None):
    """Expected simplification rows per (case_id, role): vertex counts
    plus the md5 of the simplified geometry's byte-parity serialization,
    computed with the recursive twin + the same ring/polygon drop rules
    as operators/simplify.py (ring < 4 kept points dropped; dropping a
    polygon's exterior drops the polygon)."""
    import hashlib

    from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
    from rust_geo_booleanop_spark.operators.simplify import DEFAULT_SIMPLIFY_TOL
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    if tol is None:
        tol = DEFAULT_SIMPLIFY_TOL
    tol2 = tol * tol
    rows = []
    for case_id in case_ids:
        subject, clipping = case_geometry(case_id)
        for role, mp in (("subject", subject), ("clipping", clipping)):
            n_in = sum(len(r) for p in mp for r in p)
            out_polys = []
            for poly in mp:
                out_rings = []
                for ring_idx, ring in enumerate(poly):
                    if len(ring) < 4:
                        continue
                    idx = _dp_recursive(ring, tol2)
                    if len(idx) < 4:
                        if ring_idx == 0:
                            out_rings = None
                            break
                        continue
                    out_rings.append(
                        [[float(ring[i][0]), float(ring[i][1])] for i in idx]
                    )
                if out_rings:
                    out_polys.append(out_rings)
            n_out = sum(len(r) for p in out_polys for r in p)
            digest = hashlib.md5(
                serialize_multipolygon(out_polys).encode()
            ).hexdigest()
            rows.append((case_id, role, n_in, n_out, digest))
    return rows


def _jarvis_hull(points):
    """INDEPENDENT gift-wrapping convex hull (the twin check for
    operators/hull.py's monotone chain): same cross expression
    ``(ax-ox)*(by-oy) - (ay-oy)*(bx-ox)`` term for term, completely
    different control flow (angular wrapping vs sorted chain). Returns
    the OPEN counter-clockwise hull starting at the lexicographically
    smallest point, strict corners only (farthest wins among collinear).
    """
    pts = sorted(set(points))
    if len(pts) < 3:
        return pts
    start = pts[0]
    hull = [start]
    p = start
    while True:
        q = None
        for r in pts:
            if r == p:
                continue
            if q is None:
                q = r
                continue
            c = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
            if c < 0.0:
                # r is strictly RIGHT of p->q: q can't be the next CCW
                # hull vertex (the hull edge must keep every point to
                # its left)
                q = r
            elif c == 0.0:
                # collinear: keep the farther candidate so interior
                # collinear points never become hull vertices
                dq = (q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2
                dr = (r[0] - p[0]) ** 2 + (r[1] - p[1]) ** 2
                if dr > dq:
                    q = r
        if q == start:
            break
        hull.append(q)
        p = q
    return hull


def g18_hull_rows(case_ids):
    """Expected convex-hull rows per (case_id, role): point/vertex counts
    plus the md5 of the closed hull ring's byte-parity serialization,
    computed with the Jarvis twin."""
    import hashlib

    from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    rows = []
    for case_id in case_ids:
        subject, clipping = case_geometry(case_id)
        for role, mp in (("subject", subject), ("clipping", clipping)):
            points = {
                (float(p[0]), float(p[1]))
                for poly in mp
                for ring in poly
                for p in ring
            }
            hull = _jarvis_hull(points)
            closed = [[x, y] for x, y in hull]
            if closed:
                closed.append(list(closed[0]))
            digest = hashlib.md5(
                serialize_multipolygon([[closed]] if closed else []).encode()
            ).hexdigest()
            rows.append(
                (case_id, role, len(points), max(len(closed) - 1, 0), digest)
            )
    return rows


def g09_expected_rows():
    """Reference-data expected rows: (case_key, op, n_polys, expected_json)
    for every annotated expected feature in the reference fixture corpus.
    n_polys counts the expected geometry's polygons; expected_json is the
    compact serialization the Spark query byte-compares against. Parsed
    straight from the reference files — the kernel is never run here."""
    from rust_geo_booleanop_spark.kernel.geojson import (
        geometry_to_multipolygon,
        multipolygon_to_geometry,
        reference_case_files,
    )

    rows = []
    for path in reference_case_files():
        case_key = os.path.basename(path)[: -len(".geojson")]
        with open(path, "rb") as f:
            fc = json.loads(f.read().decode("utf-8"))
        for feat in fc["features"][2:]:
            props = feat.get("properties") or {}
            op = props.get("operation")
            if not op:
                continue
            mp = geometry_to_multipolygon(feat["geometry"])
            expected_json = json.dumps(
                multipolygon_to_geometry(mp), separators=(",", ":")
            )
            rows.append((case_key, op, len(mp), expected_json))
    return rows


def g36_winding_rows(case_ids):
    """Expected per-(case, op) ring-winding counts computed with the
    PURE-PYTHON kernel pair runner and the CPython winding twin
    (operators/measures.py::winding_audit_python — FP-order lockstep
    with the `ring_windings` JVM fold; any edit to either must rerun
    this). Rows: (case_id, op, orientation, is_hole, n_rings); non-ok
    statuses are skipped (no geometry), matching the query's status
    filter."""
    from collections import Counter

    from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
    from rust_geo_booleanop_spark.kernel.pairs import pair_boolean_ops_python
    from rust_geo_booleanop_spark.operators.measures import winding_audit_python
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    counts: Counter = Counter()
    for case_id in case_ids:
        subject, clipping = case_geometry(case_id)
        s_json = serialize_multipolygon(subject)
        c_json = serialize_multipolygon(clipping)
        for op, result_json, _n, _x0, _y0, _x1, _y1, status in (
            pair_boolean_ops_python(s_json, c_json, OPS)
        ):
            if status != "ok":
                continue
            for _pi, _ri, orientation, is_hole in winding_audit_python(result_json):
                counts[(case_id, op, orientation, is_hole)] += 1
    return [
        (c, o, orient, hole, n) for (c, o, orient, hole), n in sorted(counts.items())
    ]


def main():
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Optional argv filter: `python scripts/gen_geo_oracle_fixtures.py g19`
    # regenerates only the named fixture groups (geo = g01/g02/g03).
    only = set(sys.argv[1:])

    def want(tag):
        return not only or tag in only

    os.makedirs(FIXDIR, exist_ok=True)

    if want("geo"):
        _write_geo(pa, pq)
    if want("g11"):
        _write_g11(pa, pq)
    if want("g09"):
        _write_g09(pa, pq)
    if want("g16"):
        _write_g16(pa, pq)
    if want("g17"):
        _write_g17(pa, pq)
    if want("g18"):
        _write_g18(pa, pq)
    if want("g19"):
        _write_g19(pa, pq)
    if want("g20"):
        _write_g20(pa, pq)
    if want("g21"):
        _write_g21(pa, pq)
    if want("g36"):
        _write_g36(pa, pq)


def _write_g36(pa, pq):
    g36 = g36_winding_rows(range(N_CASES))
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g36], pa.int64()),
                "op": pa.array([r[1] for r in g36], pa.string()),
                "orientation": pa.array([r[2] for r in g36], pa.int32()),
                "is_hole": pa.array([r[3] for r in g36], pa.bool_()),
                "n_rings": pa.array([r[4] for r in g36], pa.int64()),
            }
        ),
        os.path.join(FIXDIR, "g36_winding_sf01.parquet"),
        compression="zstd",
    )
    print(f"g36: {len(g36)} rows (python-kernel winding twin)")


def _write_geo(pa, pq):
    g01, g02, g03 = geo_case_rows(range(N_CASES))
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g01], pa.int64()),
                "op": pa.array([r[1] for r in g01], pa.string()),
                "n_polys": pa.array([r[2] for r in g01], pa.int32()),
            }
        ),
        os.path.join(FIXDIR, "g01_npolys_sf01.parquet"),
        compression="zstd",
    )
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g02], pa.int64()),
                "op": pa.array([r[1] for r in g02], pa.string()),
                "tile_id": pa.array([r[2] for r in g02], pa.int64()),
            }
        ),
        os.path.join(FIXDIR, "g02_tiles_sf01.parquet"),
        compression="zstd",
    )
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g03], pa.int64()),
                "tile_id": pa.array([r[1] for r in g03], pa.int64()),
                "url": pa.array([r[2] for r in g03], pa.string()),
                "op": pa.array([r[3] for r in g03], pa.string()),
                "n_polys": pa.array([r[4] for r in g03], pa.int32()),
            }
        ),
        os.path.join(FIXDIR, "g03_clip_sf01.parquet"),
        compression="zstd",
    )
    print(f"g01: {len(g01)} rows, g02: {len(g02)} rows, g03: {len(g03)} rows")


def _write_g11(pa, pq):
    g11 = g11_dissolve_rows()
    pq.write_table(
        pa.table(
            {
                "template_kind": pa.array([r[0] for r in g11], pa.string()),
                "n_polys": pa.array([r[1] for r in g11], pa.int32()),
                "status": pa.array([r[2] for r in g11], pa.string()),
            }
        ),
        os.path.join(FIXDIR, "g11_dissolve_sf001.parquet"),
        compression="zstd",
    )
    print(f"g11: {len(g11)} keys (flat python-kernel fold)")


def _write_g09(pa, pq):
    g09 = g09_expected_rows()
    pq.write_table(
        pa.table(
            {
                "case_key": pa.array([r[0] for r in g09], pa.string()),
                "op": pa.array([r[1] for r in g09], pa.string()),
                "n_polys": pa.array([r[2] for r in g09], pa.int32()),
                "expected_json": pa.array([r[3] for r in g09], pa.string()),
            }
        ),
        os.path.join(FIXDIR, "g09_expected.parquet"),
        compression="zstd",
    )
    print(f"g09: {len(g09)} expected features -> {FIXDIR}")


def _write_g16(pa, pq):
    g16 = g16_measure_rows(range(N_CASES))
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g16], pa.int64()),
                "role": pa.array([r[1] for r in g16], pa.string()),
                "n_polys": pa.array([r[2]["n_polys"] for r in g16], pa.int32()),
                "n_rings": pa.array([r[2]["n_rings"] for r in g16], pa.int32()),
                "n_vertices": pa.array([r[2]["n_vertices"] for r in g16], pa.int32()),
                "area": pa.array([r[2]["area"] for r in g16], pa.float64()),
                "xmin": pa.array([r[2]["xmin"] for r in g16], pa.float64()),
                "ymin": pa.array([r[2]["ymin"] for r in g16], pa.float64()),
                "xmax": pa.array([r[2]["xmax"] for r in g16], pa.float64()),
                "ymax": pa.array([r[2]["ymax"] for r in g16], pa.float64()),
            }
        ),
        os.path.join(FIXDIR, "g16_measures_sf01.parquet"),
        compression="zstd",
    )
    print(f"g16: {len(g16)} measure rows")


def _write_g17(pa, pq):
    g17 = g17_simplify_rows(range(N_CASES))
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g17], pa.int64()),
                "role": pa.array([r[1] for r in g17], pa.string()),
                "n_vertices_in": pa.array([r[2] for r in g17], pa.int32()),
                "n_vertices_out": pa.array([r[3] for r in g17], pa.int32()),
                "simplified_md5": pa.array([r[4] for r in g17], pa.string()),
            }
        ),
        os.path.join(FIXDIR, "g17_simplify_sf01.parquet"),
        compression="zstd",
    )
    print(f"g17: {len(g17)} simplify rows (recursive DP twin)")


def _write_g18(pa, pq):
    g18 = g18_hull_rows(range(N_CASES))
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g18], pa.int64()),
                "role": pa.array([r[1] for r in g18], pa.string()),
                "n_points": pa.array([r[2] for r in g18], pa.int32()),
                "n_hull_vertices": pa.array([r[3] for r in g18], pa.int32()),
                "hull_md5": pa.array([r[4] for r in g18], pa.string()),
            }
        ),
        os.path.join(FIXDIR, "g18_hull_sf01.parquet"),
        compression="zstd",
    )
    print(f"g18: {len(g18)} hull rows (Jarvis gift-wrapping twin)")


def g19_iou_rows(case_ids):
    """Expected per-case intersection/union areas, computed with the
    PURE-PYTHON kernel pair runner and the structural region-area fold
    of the region_area_python twin (identical FP operation order to the
    JVM region_area_column expression; holes subtracted by ring
    position, not sign — kernel outputs can carry same-winding holes) —
    so the fixture cross-checks kernel result geometry AND the JVM area
    fold AND the one iou division. Cases where either op is non-ok are
    omitted (the Spark side drops them via the status filter + inner
    pivot)."""
    from rust_geo_booleanop_spark.kernel.pairs import pair_boolean_ops_python
    from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
    from rust_geo_booleanop_spark.operators.measures import region_area_python
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    rows = []
    for case_id in case_ids:
        subject, clipping = case_geometry(case_id)
        s_json = serialize_multipolygon(subject)
        c_json = serialize_multipolygon(clipping)
        areas = {}
        ok = True
        for op, result_json, _n, _x0, _y0, _x1, _y1, status in (
            pair_boolean_ops_python(s_json, c_json, ("intersection", "union"))
        ):
            if status != "ok":
                ok = False
                break
            areas[op] = region_area_python(result_json)
        if not ok:
            continue
        ai, au = areas["intersection"], areas["union"]
        rows.append((case_id, ai, au))
    return rows


def g20_weight_rows(case_ids):
    """Expected per-(case, tile) clip/geometry areas for the SUBJECT
    geometries, computed with the python bbox-cover helper + the
    pure-python kernel clip + the area-fold twin. The denominator is the
    KERNEL-NORMALIZED region area — subject intersected with its own
    bbox rectangle, exactly as tiling.tile_area_weights normalizes on
    the Spark side (raw corpus rings have arbitrary orientation, so the
    raw signed shoelace is not the region area). Non-ok rows are omitted
    (the Spark side filters them identically); the weight division and
    the apportionment multiply are recomputed in SQL."""
    from rust_geo_booleanop_spark.functions.cells import bbox_cover_cells
    from rust_geo_booleanop_spark.kernel.pairs import (
        bbox_square_json,
        pair_boolean_ops_python,
    )
    from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
    from rust_geo_booleanop_spark.operators.measures import region_area_python
    from rust_geo_booleanop_spark.operators.tiling import tile_square_json
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    rows = []
    for case_id in case_ids:
        subject, _clipping = case_geometry(case_id)
        s_json = serialize_multipolygon(subject)
        xs = [p[0] for poly in subject for ring in poly for p in ring]
        ys = [p[1] for poly in subject for ring in poly for p in ring]
        # pad matches tiling._NORMALIZE_PAD: a bbox-tangent rectangle is
        # the degenerate edge-overlap class (hole mis-classified as a
        # separate exterior); strictly-outside edges are always clean
        (_, norm_json, _n, _, _, _, _, nstatus), = pair_boolean_ops_python(
            s_json,
            bbox_square_json(
                min(xs) - 1.0, min(ys) - 1.0, max(xs) + 1.0, max(ys) + 1.0
            ),
            ("intersection",),
        )
        if nstatus != "ok":
            continue
        geom_area = region_area_python(norm_json)
        tiles = bbox_cover_cells(min(xs), min(ys), max(xs), max(ys), G20_LEVEL)
        for tid in tiles:
            (_, gj, _n, _, _, _, _, status), = pair_boolean_ops_python(
                s_json, tile_square_json(int(tid)), ("intersection",)
            )
            if status != "ok":
                continue
            rows.append((case_id, int(tid), region_area_python(gj), geom_area))
    return rows


def _write_g20(pa, pq):
    g20 = g20_weight_rows(range(N_CASES))
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g20], pa.int64()),
                "tile_id": pa.array([r[1] for r in g20], pa.int64()),
                "clip_area": pa.array([r[2] for r in g20], pa.float64()),
                "geom_area": pa.array([r[3] for r in g20], pa.float64()),
            }
        ),
        os.path.join(FIXDIR, "g20_tile_weights_sf01.parquet"),
        compression="zstd",
    )
    print(f"g20: {len(g20)} tile-weight rows (python-kernel clip + area twin)")


def g21_shape_rows(case_ids):
    """Expected region_area/centroid/perimeter per (case, role) from the
    CPython shape twin `shape_stats_python` (identical FP operation
    order to the JVM shape_stats folds) over the raw corpus geometries —
    the same generated-oracle pattern as g16."""
    from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
    from rust_geo_booleanop_spark.operators.measures import shape_stats_python
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    rows = []
    for case_id in case_ids:
        subject, clipping = case_geometry(case_id)
        for role, mp in (("subject", subject), ("clipping", clipping)):
            st = shape_stats_python(serialize_multipolygon(mp))
            rows.append(
                (
                    case_id,
                    role,
                    st["region_area"],
                    st["centroid_x"],
                    st["centroid_y"],
                    st["perimeter"],
                )
            )
    return rows


def _write_g21(pa, pq):
    g21 = g21_shape_rows(range(N_CASES))
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g21], pa.int64()),
                "role": pa.array([r[1] for r in g21], pa.string()),
                "region_area": pa.array([r[2] for r in g21], pa.float64()),
                "centroid_x": pa.array([r[3] for r in g21], pa.float64()),
                "centroid_y": pa.array([r[4] for r in g21], pa.float64()),
                "perimeter": pa.array([r[5] for r in g21], pa.float64()),
            }
        ),
        os.path.join(FIXDIR, "g21_shape_sf01.parquet"),
        compression="zstd",
    )
    print(f"g21: {len(g21)} shape rows (shape_stats_python twin)")


def _write_g19(pa, pq):
    g19 = g19_iou_rows(range(N_CASES))
    pq.write_table(
        pa.table(
            {
                "case_id": pa.array([r[0] for r in g19], pa.int64()),
                "area_intersection": pa.array([r[1] for r in g19], pa.float64()),
                "area_union": pa.array([r[2] for r in g19], pa.float64()),
            }
        ),
        os.path.join(FIXDIR, "g19_iou_sf01.parquet"),
        compression="zstd",
    )
    print(f"g19: {len(g19)} iou rows (python-kernel + area-fold twin)")


if __name__ == "__main__":
    main()
