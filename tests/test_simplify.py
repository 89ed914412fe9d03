"""Douglas-Peucker simplification (operators/simplify.py)."""

import numpy as np

from rust_geo_booleanop_spark.operators.simplify import (
    DEFAULT_SIMPLIFY_TOL,
    _dp_keep_mask,
    simplify_multipolygon,
)
from tests.conftest import TESTDATA_SF


def _circle_ring(n=24, r=10.0, cx=0.0, cy=0.0):
    pts = [
        [cx + r * float(np.cos(2 * np.pi * i / n)),
         cy + r * float(np.sin(2 * np.pi * i / n))]
        for i in range(n)
    ]
    return pts + [pts[0]]


SQUARE = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]


class TestKeepMask:
    def test_straight_line_collapses_to_endpoints(self):
        xs = np.arange(11, dtype=np.float64)
        ys = np.zeros(11)
        keep = _dp_keep_mask(xs, ys, 0.01)
        assert keep[0] and keep[-1] and keep.sum() == 2

    def test_spike_is_kept(self):
        xs = np.array([0.0, 5.0, 10.0])
        ys = np.array([0.0, 3.0, 0.0])
        keep = _dp_keep_mask(xs, ys, 1.0)  # 3.0 > tol -> keep the spike
        assert keep.all()

    def test_coincident_anchors_use_point_distance(self):
        # closed loop where first == last: anchors coincide
        xs = np.array([0.0, 1.0, 0.0])
        ys = np.array([0.0, 0.0, 0.0])
        keep = _dp_keep_mask(xs, ys, 0.25)  # d2 = 1.0 > 0.25 -> keep
        assert keep.all()
        keep = _dp_keep_mask(xs, ys, 4.0)  # d2 = 1.0 <= 4.0 -> drop middle
        assert keep.tolist() == [True, False, True]


class TestSimplifyMultipolygon:
    def test_square_survives_tolerance(self):
        out = simplify_multipolygon([[SQUARE]], DEFAULT_SIMPLIFY_TOL)
        assert out == [[SQUARE]]

    def test_circle_is_thinned_and_stays_closed(self):
        ring = _circle_ring()
        out = simplify_multipolygon([[ring]], DEFAULT_SIMPLIFY_TOL)
        (simplified,) = out[0]
        assert 4 <= len(simplified) < len(ring)
        assert simplified[0] == simplified[-1]
        # every kept point is an input point (DP never moves vertices)
        assert all(p in ring for p in simplified)

    def test_collapsing_exterior_drops_polygon_with_holes(self):
        tiny = [[0.0, 0.0], [0.1, 0.0], [0.1, 0.1], [0.0, 0.0]]
        out = simplify_multipolygon([[tiny, SQUARE]], 1.0)
        assert out == []

    def test_collapsing_hole_is_dropped_alone(self):
        hole = [[4.0, 4.0], [4.2, 4.0], [4.2, 4.2], [4.0, 4.0]]
        out = simplify_multipolygon([[SQUARE, hole]], 1.0)
        assert out == [[SQUARE]]

    def test_degenerate_short_ring_skipped(self):
        assert simplify_multipolygon([[[[0.0, 0.0], [1.0, 1.0]]]], 0.5) == []


class TestSparkSimplify:
    def test_matches_twin_through_spark(self, spark):
        """The distributed operator reproduces the recursive scalar twin
        bit-for-bit (md5 of the byte-parity serialization) on corpus
        geometries — the same cross-check the g17 oracle grades."""
        import hashlib

        from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
        from rust_geo_booleanop_spark.operators import (
            extract_geometries,
            simplify_geometries,
        )
        from rust_geo_booleanop_spark.sources import build_documents
        from scripts.gen_geo_oracle_fixtures import g17_simplify_rows

        geoms = extract_geometries(
            build_documents(spark, TESTDATA_SF)
        ).select("case_id", "role", "geom_json")
        got = {
            (r.case_id, r.role): (
                r.n_vertices_in,
                r.n_vertices_out,
                hashlib.md5(r.simplified_json.encode()).hexdigest(),
            )
            for r in simplify_geometries(geoms, tol=DEFAULT_SIMPLIFY_TOL).collect()
        }
        cases = sorted({c for c, _ in got})
        expected = {(r[0], r[1]): r[2:] for r in g17_simplify_rows(cases)}
        assert got == expected
