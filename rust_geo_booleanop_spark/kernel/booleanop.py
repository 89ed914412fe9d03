"""Martinez-Rueda-Feito boolean operations on (Multi)Polygons.

Pure-Python kernel with the exact fixture-level semantics of the reference
(cited per function; NOT a code port — the data model here is an event
object graph + plain list containers instead of Rc/RefCell/splay trees).

Geometry representation:
    point         -> (x, y) float tuple
    ring          -> list[point]  (closed: first == last; closure enforced)
    polygon       -> list[ring]   (ring 0 exterior, rest holes)
    multipolygon  -> list[polygon]

Operations: 'intersection' | 'union' | 'diff' | 'xor'
(diff_ba at the API layer is diff with swapped operands).
"""

from __future__ import annotations

import math
from heapq import heappush, heappop

from .events import (
    DIFFERENT_TRANSITION,
    NON_CONTRIBUTING,
    NORMAL,
    SAME_TRANSITION,
    TRANS_IN_OUT,
    TRANS_NONE,
    TRANS_OUT_IN,
    Event,
    event_is_before,
)
from .predicates import (
    NO_INTERSECTION,
    POINT_INTERSECTION,
    segment_intersection,
)
from .sweepline import SweepLine

INTERSECTION = "intersection"
UNION = "union"
DIFFERENCE = "diff"
XOR = "xor"

_INF = float("inf")


# ---------------------------------------------------------------------------
# Queue construction (fill_queue.rs:10-85)
# ---------------------------------------------------------------------------

class KernelInvalidInput(ValueError):
    """A segment of an operand has a NaN or infinite endpoint. Every
    comparison with NaN is false, and inf - inf is NaN, so the event
    orderings of the sweep and of connect_edges need not settle; the input
    is rejected while the queue is filled, before the sweep. (A collapsed
    edge between equal points makes no segment and is skipped as before.)
    Callers may mark the row failed and continue, as for
    KernelLimitExceeded."""


def _process_ring(ring, is_subject, contour_id, queue, bbox, is_exterior_ring):
    n = len(ring)
    if n < 2:
        return
    min_x, min_y, max_x, max_y = bbox
    for i in range(n - 1):
        sx, sy = ring[i]
        ex, ey = ring[i + 1]
        if sx == ex and sy == ey:
            continue  # skip collapsed edges
        # comparisons, not math.isfinite: an int past float range is finite
        if not (-_INF < sx < _INF and -_INF < sy < _INF
                and -_INF < ex < _INF and -_INF < ey < _INF):
            raise KernelInvalidInput("segment with a non-finite endpoint")
        e1 = Event(contour_id, sx, sy, False, None, is_subject, is_exterior_ring)
        e2 = Event(contour_id, ex, ey, False, e1, is_subject, is_exterior_ring)
        e1.other = e2
        # The earlier endpoint in sweep order is the segment's left event.
        if event_is_before(e1, e2):
            e1.left = True
        else:
            e2.left = True
        if sx < min_x:
            min_x = sx
        if sy < min_y:
            min_y = sy
        if sx > max_x:
            max_x = sx
        if sy > max_y:
            max_y = sy
        heappush(queue, e1)
        heappush(queue, e2)
    bbox[0], bbox[1], bbox[2], bbox[3] = min_x, min_y, max_x, max_y


def fill_queue(subject, clipping, sbbox, cbbox, operation):
    queue = []
    contour_id = 0
    for polygon in subject:
        contour_id += 1
        for k, ring in enumerate(polygon):
            _process_ring(ring, True, contour_id, queue, sbbox, k == 0)
    for polygon in clipping:
        # Under difference the clipping side shares one contour id
        # (fill_queue.rs:31-36) — it only matters for collinear tiebreaks.
        exterior = operation != DIFFERENCE
        if exterior:
            contour_id += 1
        for k, ring in enumerate(polygon):
            _process_ring(ring, False, contour_id, queue, cbbox, exterior and k == 0)
    return queue


# ---------------------------------------------------------------------------
# Segment subdivision (divide_segment.rs:10-88)
# ---------------------------------------------------------------------------

def divide_segment(se_l, ix, iy, queue):
    se_r = se_l.other
    if se_r is None:
        return
    # Corner case 1: never create a vertical-downward first sub-segment —
    # nudge the split point one ULP in +x (divide_segment.rs:46-50).
    if ix == se_l.x and iy < se_l.y:
        ix = math.nextafter(ix, _INF)

    r = Event(se_l.contour_id, ix, iy, False, se_l, se_l.is_subject, True)
    l = Event(se_l.contour_id, ix, iy, True, se_r, se_l.is_subject, True)

    # Corner case 2: second sub-segment vertical — swap left/right flags.
    if not event_is_before(l, se_r):
        se_r.left = True
        l.left = False

    se_l.other = r
    se_r.other = l

    heappush(queue, l)
    heappush(queue, r)


# ---------------------------------------------------------------------------
# Neighbor intersection handling (possible_intersection.rs:8-122)
# ---------------------------------------------------------------------------

def possible_intersection(se1, se2, queue):
    other1 = se1.other
    other2 = se2.other
    if other1 is None or other2 is None:
        return 0

    kind, p, q = segment_intersection(
        se1.x, se1.y, other1.x, other1.y, se2.x, se2.y, other2.x, other2.y
    )

    if kind == NO_INTERSECTION:
        return 0

    if kind == POINT_INTERSECTION:
        # Endpoint touches are ignored for numerical stability
        # (possible_intersection.rs:39-47).
        if (se1.x == se2.x and se1.y == se2.y) or (
            other1.x == other2.x and other1.y == other2.y
        ):
            return 0
        px, py = p
        if not (se1.x == px and se1.y == py) and not (other1.x == px and other1.y == py):
            divide_segment(se1, px, py, queue)
        if not (se2.x == px and se2.y == py) and not (other2.x == px and other2.y == py):
            divide_segment(se2, px, py, queue)
        return 1

    # Overlap.
    if se1.is_subject == se2.is_subject:
        return 0  # same-polygon overlap: ignore

    events = []
    left_coincide = se1.x == se2.x and se1.y == se2.y
    if not left_coincide:
        if not event_is_before(se1, se2):
            events.append((se2, other2))
            events.append((se1, other1))
        else:
            events.append((se1, other1))
            events.append((se2, other2))

    right_coincide = other1.x == other2.x and other1.y == other2.y
    if not right_coincide:
        if not event_is_before(other1, other2):
            events.append((other2, se2))
            events.append((other1, se1))
        else:
            events.append((other1, se1))
            events.append((other2, se2))

    if left_coincide:
        # Shared left endpoint: mark edge types; split the longer one if the
        # right endpoints differ.
        se2.edge_type = NON_CONTRIBUTING
        se1.edge_type = (
            SAME_TRANSITION if se1.in_out == se2.in_out else DIFFERENT_TRANSITION
        )
        if not right_coincide:
            divide_segment(events[1][1], events[0][0].x, events[0][0].y, queue)
        return 2

    if right_coincide:
        # Shared right endpoint: split the earlier segment at the later left.
        divide_segment(events[0][0], events[1][0].x, events[1][0].y, queue)
        return 3

    if events[0][0] is not events[3][1]:
        # Partial overlap: neither segment contains the other.
        divide_segment(events[0][0], events[1][0].x, events[1][0].y, queue)
        divide_segment(events[1][0], events[2][0].x, events[2][0].y, queue)
        return 3

    # Total containment: one segment includes the other.
    divide_segment(events[0][0], events[1][0].x, events[1][0].y, queue)
    # Re-fetch the mutated other event — the first division changed it
    # (possible_intersection.rs:112-117).
    divide_segment(events[3][0].other, events[2][0].x, events[2][0].y, queue)
    return 3


# ---------------------------------------------------------------------------
# Field computation (compute_fields.rs:6-104)
# ---------------------------------------------------------------------------

def compute_fields(event, prev, operation):
    if prev is not None:
        if event.is_subject == prev.is_subject:
            event.in_out = not prev.in_out
            event.other_in_out = prev.other_in_out
        elif prev.is_vertical():
            event.in_out = not prev.other_in_out
            event.other_in_out = not prev.in_out
        else:
            event.in_out = not prev.other_in_out
            event.other_in_out = prev.in_out

        # Chain prev-in-result past non-result and vertical segments.
        if prev.in_result and not prev.is_vertical():
            event.prev_in_result = prev
        elif prev.prev_in_result is not None:
            event.prev_in_result = prev.prev_in_result
        else:
            event.prev_in_result = None
    else:
        event.in_out = False
        event.other_in_out = True
        event.prev_in_result = None

    if _in_result(event, operation):
        event.result_transition = _result_transition(event, operation)
    else:
        event.result_transition = TRANS_NONE


def _in_result(event, operation):
    et = event.edge_type
    if et == NORMAL:
        if operation == INTERSECTION:
            return not event.other_in_out
        if operation == UNION:
            return event.other_in_out
        if operation == DIFFERENCE:
            return (event.is_subject and event.other_in_out) or (
                not event.is_subject and not event.other_in_out
            )
        return True  # xor
    if et == SAME_TRANSITION:
        return operation == INTERSECTION or operation == UNION
    if et == DIFFERENT_TRANSITION:
        return operation == DIFFERENCE
    return False  # non-contributing


def _result_transition(event, operation):
    this_in = not event.in_out
    that_in = not event.other_in_out
    if operation == INTERSECTION:
        is_in = this_in and that_in
    elif operation == UNION:
        is_in = this_in or that_in
    elif operation == XOR:
        is_in = this_in != that_in
    else:  # difference is asymmetric
        if event.is_subject:
            is_in = this_in and not that_in
        else:
            is_in = that_in and not this_in
    return TRANS_OUT_IN if is_in else TRANS_IN_OUT


# ---------------------------------------------------------------------------
# The sweep (subdivide_segments.rs:14-103)
# ---------------------------------------------------------------------------

class KernelLimitExceeded(RuntimeError):
    """Safety valve: the sweep processed far more events than any sane
    input produces — a degenerate-overlap input has driven subdivision
    into a non-terminating split cycle (Martinez-class pathology; cf. the
    reference's deactivated issue90 fixture). Raised instead of hanging an
    executor; callers may mark the row failed and continue."""


def subdivide(queue, sbbox, cbbox, operation):
    sweep = SweepLine()
    sorted_events = []
    rightbound = min(sbbox[2], cbbox[2])
    sbbox_max_x = sbbox[2]

    # Each original segment can legitimately split many times, but total
    # processed events stay linear-ish in input+intersections; 100x input
    # (+ slack) is far beyond any terminating case.
    event_budget = 100 * len(queue) + 100_000

    while queue:
        event = heappop(queue)
        sorted_events.append(event)
        if len(sorted_events) > event_budget:
            raise KernelLimitExceeded(
                f"sweep exceeded {event_budget} processed events "
                f"(operation={operation})"
            )

        if (operation == INTERSECTION and event.x > rightbound) or (
            operation == DIFFERENCE and event.x > sbbox_max_x
        ):
            break

        if event.left:
            idx = sweep.insert(event)
            prev = sweep.prev_of_index(idx)
            nxt = sweep.next_of_index(idx)

            compute_fields(event, prev, operation)

            if nxt is not None:
                if possible_intersection(event, nxt, queue) == 2:
                    compute_fields(event, prev, operation)
                    compute_fields(nxt, event, operation)

            if prev is not None:
                if possible_intersection(prev, event, queue) == 2:
                    # the sweep list is not mutated between insert() and
                    # here (divisions touch only the queue), so prev is
                    # still at idx-1 and its predecessor at idx-2
                    prev_prev = sweep.prev_of_index(idx - 1)
                    compute_fields(prev, prev_prev, operation)
                    compute_fields(event, prev, operation)
        else:
            other = event.other
            if other is not None:
                i = sweep.index_of(other)
                if i >= 0:
                    prev = sweep.prev_of_index(i)
                    nxt = sweep.next_of_index(i)
                    if prev is not None and nxt is not None:
                        possible_intersection(prev, nxt, queue)
                    sweep.remove_at(i)

    return sorted_events


# ---------------------------------------------------------------------------
# Result assembly (connect_edges.rs)
# ---------------------------------------------------------------------------

def _order_events(sorted_events):
    """Filter to result events and re-sort (connect_edges.rs:7-47).

    The reference uses an adaptive bubble sort on the nearly-sorted event
    list; we keep the identical pass structure so that ties (which the
    comparator never reports as equal but treats asymmetrically) end up in
    the same final arrangement.
    """
    result_events = [
        e
        for e in sorted_events
        if (e.left and e.in_result) or (not e.left and e.other is not None and e.other.in_result)
    ]

    unsorted = True
    while unsorted:
        unsorted = False
        for i in range(1, len(result_events)):
            a = result_events[i - 1]
            b = result_events[i]
            if not event_is_before(a, b):
                result_events[i - 1] = b
                result_events[i] = a
                unsorted = True

    for pos, event in enumerate(result_events):
        event.other_pos = pos
    for event in result_events:
        if event.left and event.other is not None:
            event.other_pos, event.other.other_pos = (
                event.other.other_pos,
                event.other_pos,
            )

    return result_events


def _precompute_iteration_order(events):
    """Per-vertex iteration map (connect_edges.rs:59-119).

    Within a group of events at the identical point: R events chain in
    positive index direction, L events in negative direction, stitched so a
    traversal visits outgoing edges in clockwise order.
    """
    n = len(events)
    nxt = [0] * n
    i = 0
    while i < n:
        ref = events[i]
        r_from = i
        while i < n and events[i].x == ref.x and events[i].y == ref.y and not events[i].left:
            i += 1
        r_upto_ex = i
        l_from = i
        while i < n and events[i].x == ref.x and events[i].y == ref.y:
            i += 1
        l_upto_ex = i

        has_r = r_upto_ex > r_from
        has_l = l_upto_ex > l_from

        if has_r:
            r_upto = r_upto_ex - 1
            for j in range(r_from, r_upto):
                nxt[j] = j + 1
            nxt[r_upto] = l_upto_ex - 1 if has_l else r_from
        if has_l:
            l_upto = l_upto_ex - 1
            for j in range(l_from + 1, l_upto + 1):
                nxt[j] = j - 1
            nxt[l_from] = r_from if has_r else l_upto
    return nxt


def _next_pos(pos, processed, iteration_map):
    start = pos
    while True:
        pos = iteration_map[pos]
        if pos == start:
            return -1
        if pos not in processed:
            return pos


class Contour:
    __slots__ = ("points", "hole_ids", "hole_of", "depth")

    def __init__(self, hole_of=None, depth=0):
        self.points = []
        self.hole_ids = []
        self.hole_of = hole_of
        self.depth = depth

    @property
    def is_exterior(self):
        return self.hole_of is None


def _initialize_contour(event, contours, contour_id):
    """Hole/parent classification — Fig. 4 of the Martinez paper
    (connect_edges.rs:166-210)."""
    prev_in_result = event.prev_in_result
    if prev_in_result is None:
        return Contour(None, 0)
    lower_id = prev_in_result.output_contour_id
    if not (0 <= lower_id < len(contours)):
        # Invariant breach ("previous in result" not yet assigned a contour)
        # only happens on degenerate-overlap inputs where the reference
        # panics (its test harness wraps runs in catch_unwind,
        # tests/src/generic_test_cases.rs:24). Degrade to an exterior
        # contour instead of crashing the executor.
        return Contour(None, 0)
    if prev_in_result.result_transition == TRANS_OUT_IN:
        # We are inside: hole of the lower contour (or of its parent).
        lower = contours[lower_id]
        if lower.hole_of is not None:
            parent_id = lower.hole_of
            contours[parent_id].hole_ids.append(contour_id)
            return Contour(parent_id, lower.depth)
        contours[lower_id].hole_ids.append(contour_id)
        return Contour(lower_id, lower.depth + 1)
    # We are outside: exterior contour at the same depth.
    depth = contours[lower_id].depth if 0 <= lower_id < len(contours) else 0
    return Contour(None, depth)


def connect_edges(sorted_events):
    result_events = _order_events(sorted_events)
    iteration_map = _precompute_iteration_order(result_events)

    contours = []
    processed = set()

    for i in range(len(result_events)):
        if i in processed:
            continue

        contour_id = len(contours)
        contour = _initialize_contour(result_events[i], contours, contour_id)

        pos = i
        initial_x = result_events[pos].x
        initial_y = result_events[pos].y
        contour.points.append((initial_x, initial_y))

        while True:
            processed.add(pos)
            result_events[pos].output_contour_id = contour_id

            # Follow the segment to its other endpoint.
            pos = result_events[pos].other_pos
            processed.add(pos)
            result_events[pos].output_contour_id = contour_id
            contour.points.append((result_events[pos].x, result_events[pos].y))

            # Search the next outgoing edge at this vertex.
            pos = _next_pos(pos, processed, iteration_map)
            if pos < 0:
                break
            # Early contour termination on returning to the start point.
            if result_events[pos].x == initial_x and result_events[pos].y == initial_y:
                break

        contours.append(contour)

    return contours


# ---------------------------------------------------------------------------
# Entry points (mod.rs:88-141)
# ---------------------------------------------------------------------------

def _close_ring(ring):
    # no copy when already closed: the sweep never mutates input rings
    if ring and (ring[0][0] != ring[-1][0] or ring[0][1] != ring[-1][1]):
        return list(ring) + [ring[0]]
    return ring


def _normalize_multipolygon(mp):
    return [[_close_ring(ring) for ring in poly] for poly in mp]


def _trivial_result(subject, clipping, operation):
    if operation == INTERSECTION:
        return []
    if operation == DIFFERENCE:
        return [list(p) for p in subject]
    return [list(p) for p in subject] + [list(p) for p in clipping]


def intersection(subject, clipping):
    """Reference-API parity (BooleanOp::intersection, mod.rs:33-58)."""
    return boolean_op(subject, clipping, INTERSECTION)


def union(subject, clipping):
    """Reference-API parity (BooleanOp::union, mod.rs:65-67)."""
    return boolean_op(subject, clipping, UNION)


def difference(subject, clipping):
    """Reference-API parity (BooleanOp::difference, mod.rs:56-58)."""
    return boolean_op(subject, clipping, DIFFERENCE)


def xor(subject, clipping):
    """Reference-API parity (BooleanOp::xor, mod.rs:74-76)."""
    return boolean_op(subject, clipping, XOR)


def boolean_op(subject, clipping, operation):
    """Boolean operation on two multipolygons.

    `subject`/`clipping`: multipolygon structure (see module docstring),
    rings need not be pre-closed. `operation`: one of 'intersection',
    'union', 'diff', 'xor', 'diff_ba'. Raises KernelInvalidInput when a
    segment of either operand has a NaN or infinite endpoint.
    """
    if operation == "diff_ba":
        subject, clipping, operation = clipping, subject, DIFFERENCE
    if operation not in (INTERSECTION, UNION, DIFFERENCE, XOR):
        raise ValueError(f"unknown operation: {operation!r}")

    subject = _normalize_multipolygon(subject)
    clipping = _normalize_multipolygon(clipping)

    sbbox = [_INF, _INF, -_INF, -_INF]
    cbbox = [_INF, _INF, -_INF, -_INF]

    queue = fill_queue(subject, clipping, sbbox, cbbox, operation)

    if sbbox[0] > cbbox[2] or cbbox[0] > sbbox[2] or sbbox[1] > cbbox[3] or cbbox[1] > sbbox[3]:
        return _trivial_result(subject, clipping, operation)

    sorted_events = subdivide(queue, sbbox, cbbox, operation)
    contours = connect_edges(sorted_events)

    polygons = []
    for contour in contours:
        if contour.is_exterior:
            rings = [_close_ring(contour.points)]
            for hole_id in contour.hole_ids:
                rings.append(_close_ring(contours[hole_id].points))
            polygons.append(rings)
    return polygons
