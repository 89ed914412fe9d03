"""Convex hull (operators/hull.py) — monotone chain semantics + the
Spark Arrow stage. The g18 fixture twin (Jarvis march) is
cross-checked in tests/test_oracle_fixtures.py; these tests pin the
semantics both implementations must share."""

import json

from rust_geo_booleanop_spark.operators.hull import (
    monotone_chain,
    multipolygon_hull,
)
from tests.conftest import TESTDATA_SF

SQUARE = [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]]


class TestMonotoneChain:
    def test_square_with_interior_and_edge_points(self):
        pts = [
            (0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0),
            (5.0, 5.0),   # interior
            (5.0, 0.0),   # collinear ON the boundary -> dropped (strict)
            (0.0, 5.0),
        ]
        hull = monotone_chain(pts)
        assert hull == [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]

    def test_ccw_from_lexicographic_min(self):
        # start point is the (x, then y) smallest; orientation is CCW
        hull = monotone_chain([(1.0, 3.0), (0.0, 1.0), (2.0, 0.0), (2.0, 4.0)])
        assert hull[0] == (0.0, 1.0)
        # shoelace of the open ring is positive for CCW
        area2 = sum(
            hull[i][0] * hull[(i + 1) % len(hull)][1]
            - hull[(i + 1) % len(hull)][0] * hull[i][1]
            for i in range(len(hull))
        )
        assert area2 > 0

    def test_duplicates_and_degenerate(self):
        assert monotone_chain([(1.0, 1.0), (1.0, 1.0)]) == [(1.0, 1.0)]
        # 2 distinct points: sorted pair (documented degenerate rule)
        assert monotone_chain([(2.0, 0.0), (0.0, 0.0), (2.0, 0.0)]) == [
            (0.0, 0.0),
            (2.0, 0.0),
        ]
        # all-collinear: extremes only
        assert monotone_chain([(0.0, 0.0), (1.0, 1.0), (2.0, 2.0)]) == [
            (0.0, 0.0),
            (2.0, 2.0),
        ]


class TestMultipolygonHull:
    def test_hole_points_participate_and_ring_closes(self):
        # a hole vertex OUTSIDE the hull of the exterior can extend it;
        # here the hole is interior, so the hull is the square
        mp = [
            [
                SQUARE[0],
                [[2.0, 2.0], [2.0, 4.0], [4.0, 4.0], [4.0, 2.0], [2.0, 2.0]],
            ]
        ]
        n_points, ring = multipolygon_hull(mp)
        assert n_points == 8  # 4 + 4 distinct (closures dedup away)
        assert ring[0] == ring[-1] and len(ring) == 5

    def test_two_polygons_merge_into_one_hull(self):
        mp = [
            SQUARE,
            [[[20.0, 0.0], [30.0, 0.0], [30.0, 10.0], [20.0, 10.0], [20.0, 0.0]]],
        ]
        n_points, ring = multipolygon_hull(mp)
        assert n_points == 8
        # hull spans both squares: x range 0..30
        xs = [p[0] for p in ring]
        assert min(xs) == 0.0 and max(xs) == 30.0


class TestConvexHullSpark:
    def test_matches_local_and_is_single_map_stage(self, spark):
        from pyspark.sql import functions as F

        from rust_geo_booleanop_spark.kernel.geojson import (
            parse_multipolygon,
            serialize_multipolygon,
        )
        from rust_geo_booleanop_spark.operators import (
            convex_hull_geometries,
            extract_geometries,
        )
        from rust_geo_booleanop_spark.sources import build_documents

        geoms = extract_geometries(
            build_documents(spark, TESTDATA_SF)
        ).select("case_id", "role", "geom_json")
        out = convex_hull_geometries(geoms)
        rows = out.filter(F.col("case_id") < 10).collect()
        assert rows
        src = {
            (r.case_id, r.role): r.geom_json
            for r in geoms.filter(F.col("case_id") < 10).collect()
        }
        for r in rows:
            n_points, ring = multipolygon_hull(
                parse_multipolygon(src[(r.case_id, r.role)])
            )
            assert (r.n_points, r.n_hull_vertices) == (
                n_points,
                max(len(ring) - 1, 0),
            )
            assert r.hull_json == serialize_multipolygon([[ring]])
            # the hull ring parses back as valid closed GeoJSON coords
            parsed = json.loads(r.hull_json)
            assert parsed["coordinates"][0][0][0] == parsed["coordinates"][0][0][-1]
        # plan shape: the hull itself adds NO exchange — the only one is
        # extraction's deliberate round-robin rebalance of the scan
        plan = out._jdf.queryExecution().executedPlan().toString()
        exchanges = [
            ln for ln in plan.splitlines() if "Exchange" in ln
        ]
        assert all("RoundRobinPartitioning" in ln for ln in exchanges), plan
        assert "MapInArrow" in plan
