"""Kernel unit tests, modeled on the reference's in-module test strategy
(SURVEY.md §5: sweep_event.rs, fill_queue.rs, signed_area.rs,
segment_intersection.rs, divide_segment.rs tests)."""

import math
import os

from rust_geo_booleanop_spark.kernel.predicates import (
    NO_INTERSECTION,
    OVERLAP_INTERSECTION,
    POINT_INTERSECTION,
    segment_intersection,
    signed_area,
)
from rust_geo_booleanop_spark.kernel.events import Event, event_is_before, compare_segments
from rust_geo_booleanop_spark.kernel.booleanop import boolean_op, divide_segment
from rust_geo_booleanop_spark.kernel.geojson import (
    REFERENCE_FIXTURES,
    load_fixture,
    reference_case_files,
)
from tests.conftest import requires_reference_corpus


def sa(p0, p1, p2):
    return signed_area(p0[0], p0[1], p1[0], p1[1], p2[0], p2[1])


class TestSignedArea:
    def test_analytical(self):
        # signed_area.rs:27-34
        assert sa((0, 0), (0, 1), (1, 1)) == -1.0
        assert sa((0, 1), (0, 0), (1, 0)) == 1.0
        assert sa((0, 0), (1, 1), (2, 2)) == 0.0
        assert sa((-1, 0), (2, 3), (0, 1)) == 0.0
        assert sa((2, 3), (-1, 0), (0, 1)) == 0.0

    def test_sign_agrees_with_exact_rational(self):
        # near-collinear triples (ULP perturbations) must get the exact sign
        from fractions import Fraction

        cases = []
        for bx in (0.1, 0.3, 12.0, 1e-9, 1e9):
            for k in (-2, -1, 0, 1, 2):
                py = 2 * bx
                for _ in range(abs(k)):
                    py = math.nextafter(py, math.inf if k > 0 else -math.inf)
                cases.append(((0.0, 0.0), (bx, bx), (2 * bx, py)))
        for p0, p1, p2 in cases:
            got = sa(p0, p1, p2)
            exact = (Fraction(p0[0]) - Fraction(p2[0])) * (
                Fraction(p1[1]) - Fraction(p2[1])
            ) - (Fraction(p0[1]) - Fraction(p2[1])) * (Fraction(p1[0]) - Fraction(p2[0]))
            want = 0 if exact == 0 else (1 if exact > 0 else -1)
            got_sign = 0 if got == 0.0 else (1 if got > 0.0 else -1)
            assert got_sign == want, (p0, p1, p2)


def ev(x, y, left=False, is_subject=False, contour_id=0):
    return Event(contour_id, float(x), float(y), left, None, is_subject, True)


def pair(x, y, ox, oy, is_subject=True, contour_id=0):
    """Left/right event pair; asserts the left-right invariant."""
    r = ev(ox, oy, False, is_subject, contour_id)
    l = ev(x, y, True, is_subject, contour_id)
    l.other = r
    r.other = l
    assert event_is_before(l, r)
    return l, r


class TestEventQueueOrder:
    # fill_queue.rs:126-172
    def test_least_by_x(self):
        assert event_is_before(ev(0, 0), ev(0.5, 0.5))

    def test_least_by_y(self):
        assert event_is_before(ev(0, 0), ev(0, 0.5))

    def test_right_before_left(self):
        right = ev(0, 0, left=False)
        left = ev(0, 0, left=True)
        assert event_is_before(right, left)
        assert not event_is_before(left, right)

    def test_shared_edge_not_collinear(self):
        e1 = ev(0, 0, True)
        e1.other = ev(1, 1)
        e2 = ev(0, 0, True)
        e2.other = ev(2, 3)
        # lower segment first
        assert event_is_before(e1, e2)

    def test_collinear_subject_first(self):
        e1 = ev(0, 0, True, is_subject=True)
        e1.other = ev(1, 1, is_subject=True)
        e2 = ev(0, 0, True, is_subject=False)
        e2.other = ev(2, 2, is_subject=False)
        assert event_is_before(e1, e2)

    def test_star_pattern(self):
        # sweep_event.rs:368-412: at one vertex, R events in clockwise order
        # come before L events in counter-clockwise order.
        z = 0.0
        a = [
            pair(0.0, -1.0, z, z)[1],  # vertical first
            pair(-2.0, -6.0, z, z)[1],
            pair(-1.0, -2.0, z, z)[1],
            pair(-1.0, -1.0, z, z)[1],
            pair(-2.0, -1.0, z, z)[1],
            pair(-2.0, 1.0, z, z)[1],
            pair(-1.0, 1.0, z, z)[1],
            pair(-1.0, 2.0, z, z)[1],
            pair(-2.0, 6.0, z, z)[1],
        ]
        b = [
            pair(z, z, 2.0, -6.0)[0],
            pair(z, z, 1.0, -2.0)[0],
            pair(z, z, 1.0, -1.0)[0],
            pair(z, z, 2.0, -1.0)[0],
            pair(z, z, 2.0, 1.0)[0],
            pair(z, z, 1.0, 1.0)[0],
            pair(z, z, 1.0, 2.0)[0],
            pair(z, z, 2.0, 6.0)[0],
            pair(z, z, 0.0, 1.0)[0],  # vertical last
        ]
        order = a + b
        for i in range(len(order) - 1):
            for j in range(i + 1, len(order)):
                assert event_is_before(order[i], order[j]), (i, j)


class TestSegmentIntersection:
    # segment_intersection.rs test themes
    def test_proper_crossing(self):
        kind, p, _ = segment_intersection(0, 0, 2, 2, 0, 2, 2, 0)
        assert kind == POINT_INTERSECTION and p == (1.0, 1.0)

    def test_no_intersection(self):
        kind, _, _ = segment_intersection(0, 0, 1, 1, 2, 2, 3, 3.5)
        assert kind == NO_INTERSECTION

    def test_endpoint_touch(self):
        kind, p, _ = segment_intersection(0, 0, 1, 1, 1, 1, 2, 0)
        assert kind == POINT_INTERSECTION and p == (1.0, 1.0)

    def test_collinear_overlap(self):
        kind, p, q = segment_intersection(0, 0, 4, 0, 1, 0, 6, 0)
        assert kind == OVERLAP_INTERSECTION
        assert p == (1.0, 0.0) and q == (4.0, 0.0)

    def test_collinear_disjoint(self):
        kind, _, _ = segment_intersection(0, 0, 1, 0, 2, 0, 3, 0)
        assert kind == NO_INTERSECTION

    def test_collinear_point_touch(self):
        kind, p, _ = segment_intersection(0, 0, 1, 0, 1, 0, 2, 0)
        assert kind == POINT_INTERSECTION and p == (1.0, 0.0)


class TestDivideSegment:
    def test_divide_mid(self):
        # divide_segment.rs:90-138 theme: splitting at an interior point
        l, r = pair(0.0, 0.0, 10.0, 10.0)
        queue = []
        divide_segment(l, 5.0, 5.0, queue)
        assert l.other is not r
        assert l.other.x == 5.0 and l.other.y == 5.0
        assert r.other.x == 5.0 and r.other.y == 5.0
        assert len(queue) == 2

    def test_ulp_nudge_on_vertical_first_subsegment(self):
        l, r = pair(0.0, 0.0, 1.0, -10.0)
        queue = []
        # split point directly below the left endpoint -> +x ULP nudge
        divide_segment(l, 0.0, -5.0, queue)
        assert l.other.x == math.nextafter(0.0, math.inf)


class TestCompareSegments:
    def test_identity_equal(self):
        l, _ = pair(0.0, 0.0, 1.0, 1.0)
        assert compare_segments(l, l) == 0

    def test_not_collinear_shared_left(self):
        # compare_segments.rs:118-137 theme
        l1, _ = pair(0.0, 0.0, 1.0, 1.0)
        l2, _ = pair(0.0, 0.0, 2.0, 3.0)
        assert compare_segments(l1, l2) == -1
        assert compare_segments(l2, l1) == 1

    def test_collinear_different_polygons_subject_below(self):
        l1, _ = pair(0.0, 0.0, 1.0, 1.0, is_subject=True)
        l2, _ = pair(0.5, 0.5, 3.0, 3.0, is_subject=False)
        assert compare_segments(l1, l2) == -1


class TestBooleanOpBasics:
    def test_square_intersection(self):
        a = [[[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]]]
        b = [[[(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]]]
        assert boolean_op(a, b, "intersection") == [
            [[(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0), (1.0, 1.0)]]
        ]

    def test_disjoint_short_circuit(self):
        a = [[[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]]
        b = [[[(5.0, 5.0), (6.0, 5.0), (6.0, 6.0), (5.0, 6.0), (5.0, 5.0)]]]
        assert boolean_op(a, b, "intersection") == []
        assert boolean_op(a, b, "diff") == a
        assert boolean_op(a, b, "union") == a + b
        assert boolean_op(a, b, "xor") == a + b

    def test_diff_ba_equals_swapped_diff(self):
        a = [[[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]]]
        b = [[[(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]]]
        assert boolean_op(a, b, "diff_ba") == boolean_op(b, a, "diff")


class TestF32Surface:
    """f32-width mode (reference Float-trait parity: helper.rs:8-10)."""

    @requires_reference_corpus
    def test_f32_results_are_f32_representable_and_close_to_f64(self):
        import numpy as np

        from rust_geo_booleanop_spark.kernel import boolean_op_f32

        checked = 0
        for path in reference_case_files()[:8]:
            subject, clipping, expected = load_fixture(path)
            for op, exp, _swap in expected:
                got = boolean_op_f32(subject, clipping, op)
                # every output coordinate is exactly binary32
                for poly in got:
                    for ring in poly:
                        for x, y in ring:
                            assert float(np.float32(x)) == x
                            assert float(np.float32(y)) == y
                # same structure as the f64 expectation, coordinates within
                # f32 rounding of it (fixtures are far from degeneracy)
                assert len(got) == len(exp)
                for gp, wp in zip(got, exp):
                    assert len(gp) == len(wp)
                    for gr, wr in zip(gp, wp):
                        assert len(gr) == len(wr)
                        for (gx, gy), (wx, wy) in zip(gr, wr):
                            scale = max(abs(wx), abs(wy), 1.0)
                            assert abs(gx - wx) <= 1e-6 * scale
                            assert abs(gy - wy) <= 1e-6 * scale
                checked += 1
        assert checked >= 8

    def test_quantize_idempotent(self):
        from rust_geo_booleanop_spark.kernel import quantize_multipolygon_f32

        mp = [[[(0.1, 0.2), (1.0000000001, 2.0), (0.1, 0.2)]]]
        q1 = quantize_multipolygon_f32(mp)
        assert quantize_multipolygon_f32(q1) == q1
        assert q1[0][0][0] != (0.1, 0.2)  # 0.1 is not f32-representable


class TestReferenceApiParity:
    def test_named_ops_equal_boolean_op(self):
        """union/intersection/difference/xor wrappers (BooleanOp trait
        surface, mod.rs:33-85) delegate to the same kernel."""
        from rust_geo_booleanop_spark.kernel import (
            difference,
            intersection,
            union,
            xor,
        )

        a = [[[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]]]
        b = [[[(1.0, 1.0), (3.0, 1.0), (3.0, 3.0), (1.0, 3.0), (1.0, 1.0)]]]
        assert intersection(a, b) == boolean_op(a, b, "intersection")
        assert union(a, b) == boolean_op(a, b, "union")
        assert difference(a, b) == boolean_op(a, b, "diff")
        assert xor(a, b) == boolean_op(a, b, "xor")
        assert len(union(a, b)) == 1 and len(xor(a, b)) == 2


# ---------------------------------------------------------------------------
# Reference component-level goldens: exact event-queue pop order
# (tests/src/fill_queue_test.rs:10-115) and exact intersection coordinates
# + per-interval flags (tests/src/possible_intersection_test.rs:23-168).
# These pin the processed-event SETS that the subdivide early-exit bounds
# make observable — a sweepline/queue "optimization" that passes the
# end-to-end fixtures but reorders value-distinct events trips here.
# ---------------------------------------------------------------------------

from heapq import heappop, heappush

from rust_geo_booleanop_spark.kernel.booleanop import (
    fill_queue,
    possible_intersection,
    subdivide,
)


# The reference's two component-test inputs (corpus root), committed under
# their own names. Every coordinate is fixed by the goldens' own asserted
# values; test_component_inputs_match_reference checks the copies against
# the reference's files wherever the corpus is present.
COMPONENT_FIXTURES = os.path.join(os.path.dirname(__file__), "reference_components")


def _component_fixture(name):
    return load_fixture(os.path.join(COMPONENT_FIXTURES, name))


@requires_reference_corpus
def test_component_inputs_match_reference():
    for name in ("two_shapes.geojson", "two_triangles.geojson"):
        ref_s, ref_c, _ = load_fixture(f"{REFERENCE_FIXTURES}/{name}")
        s, c, _ = _component_fixture(name)
        assert (s, c) == (ref_s, ref_c), name


_INF = float("inf")


def _fresh_bbox():
    return [_INF, _INF, -_INF, -_INF]


def _make_simple(a, b, is_subject):
    # possible_intersection_test.rs:16-21 make_simple
    other = Event(0, b[0], b[1], False, None, is_subject, True)
    event = Event(0, a[0], a[1], True, other, is_subject, True)
    other.other = event
    return event, other


class TestFillQueueGoldens:
    def test_two_polygons_pop_order(self):
        # fill_queue_test.rs:10-58 test_two_polygons
        s, c, _ = _component_fixture("two_shapes.geojson")
        q = fill_queue(s, c, _fresh_bbox(), _fresh_bbox(), "intersection")
        popped = []
        while q:
            e = heappop(q)
            popped.append((e.left, e.x, e.y, e.other.x, e.other.y))
        assert popped == [
            (True, 16.0, 282.0, 153.0, 203.5),
            (True, 16.0, 282.0, 298.0, 359.0),
            (True, 56.0, 181.0, 108.5, 120.0),
            (True, 56.0, 181.0, 153.0, 294.5),
            (False, 108.5, 120.0, 56.0, 181.0),
            (True, 108.5, 120.0, 241.5, 229.5),
            (False, 153.0, 203.5, 16.0, 282.0),
            (True, 153.0, 203.5, 298.0, 359.0),
            (False, 153.0, 294.5, 56.0, 181.0),
            (True, 153.0, 294.5, 241.5, 229.5),
            (False, 241.5, 229.5, 108.5, 120.0),
            (False, 241.5, 229.5, 153.0, 294.5),
            (False, 298.0, 359.0, 153.0, 203.5),
            (False, 298.0, 359.0, 16.0, 282.0),
        ]

    def test_fill_event_queue_two_triangles(self):
        # fill_queue_test.rs:60-115 test_fill_event_queue
        s, c, _ = _component_fixture("two_triangles.geojson")
        sbbox, cbbox = _fresh_bbox(), _fresh_bbox()
        q = fill_queue(s, c, sbbox, cbbox, "intersection")
        assert sbbox == [20.0, -113.5, 226.5, 74.0]
        assert cbbox == [54.5, -198.0, 239.5, 33.5]
        popped = []
        while q:
            e = heappop(q)
            popped.append((e.x, e.y, e.left, e.other.x, e.other.y, e.other.left))
        assert popped == [
            (20.0, -23.5, True, 226.5, -113.5, False),
            (20.0, -23.5, True, 170.0, 74.0, False),
            (54.5, -170.5, True, 239.5, -198.0, False),
            (54.5, -170.5, True, 140.5, 33.5, False),
            (140.5, 33.5, False, 54.5, -170.5, True),
            (140.5, 33.5, True, 239.5, -198.0, False),
            (170.0, 74.0, False, 20.0, -23.5, True),
            (170.0, 74.0, True, 226.5, -113.5, False),
            (226.5, -113.5, False, 20.0, -23.5, True),
            (226.5, -113.5, False, 170.0, 74.0, True),
            (239.5, -198.0, False, 54.5, -170.5, True),
            (239.5, -198.0, False, 140.5, 33.5, True),
        ]


class TestPossibleIntersectionGoldens:
    def test_possible_intersection_exact_coords(self):
        # possible_intersection_test.rs:23-73 test_possible_intersection
        s, c, _ = _component_fixture("two_shapes.geojson")
        s_ext = s[0][0]
        c_ext = c[0][0]
        q = []
        se1, _o1 = _make_simple(s_ext[3], s_ext[2], True)
        se2, _o2 = _make_simple(c_ext[0], c_ext[1], False)
        assert possible_intersection(se1, se2, q) == 1
        assert len(q) == 4
        expect_others = [(56.0, 181.0), (16.0, 282.0), (153.0, 203.5), (153.0, 294.5)]
        for other_pt in expect_others:
            e = heappop(q)
            assert (e.x, e.y) == (100.79403384562251, 233.41363754101192)
            assert (e.other.x, e.other.y) == other_pt

    def test_on_two_polygons_subdivide_intervals(self):
        # possible_intersection_test.rs:76-168 test_on_two_polygons
        s, c, _ = _component_fixture("two_shapes.geojson")
        sbbox, cbbox = _fresh_bbox(), _fresh_bbox()
        q = fill_queue(s, c, sbbox, cbbox, "intersection")

        p0, p1, p2 = (16.0, 282.0), (298.0, 359.0), (156.0, 203.5)
        te = Event(0, p0[0], p0[1], True, None, True, True)
        te2 = Event(0, p1[0], p1[1], False, te, False, True)
        te.other = te2
        te3 = Event(0, p0[0], p0[1], True, None, True, True)
        te4 = Event(0, p2[0], p2[1], True, te3, False, True)
        te3.other = te4
        assert compare_segments(te, te3) > 0
        assert compare_segments(te3, te) < 0

        segments = subdivide(q, sbbox, cbbox, "intersection")
        left_segments = [e for e in segments if e.left]
        assert len(left_segments) == 11

        e = (16.0, 282.0)
        i = (100.79403384562252, 233.41363754101192)
        g = (298.0, 359.0)
        cc = (153.0, 294.5)
        j = (203.36313843035356, 257.5101243166895)
        f = (153.0, 203.5)
        d = (56.0, 181.0)
        a = (108.5, 120.0)
        b = (241.5, 229.5)
        intervals = [
            ("EI", e, i, False, True, False),
            ("IF", i, f, False, False, True),
            ("FJ", f, j, False, False, True),
            ("JG", j, g, False, True, False),
            ("EG", e, g, True, True, False),
            ("DA", d, a, False, True, False),
            ("AB", a, b, False, True, False),
            ("JB", j, b, True, True, False),
            ("CJ", cc, j, True, False, True),
            ("IC", i, cc, True, False, True),
            ("DC", d, i, True, True, False),  # reference names it DC, spans d->i
        ]
        for name, pa, pb, in_out, other_in_out, in_result in intervals:
            found = any(
                (seg.x, seg.y) == pa
                and (seg.other.x, seg.other.y) == pb
                and seg.in_out == in_out
                and seg.other_in_out == other_in_out
                and seg.in_result == in_result
                for seg in left_segments
            )
            assert found, f"interval {name} not found"
