"""Reference criterion benchmark parity set.

The reference benches eight kernel cases
(/root/reference/tests/benches/benchmark.rs:18-81): hole_hole/union,
many_rects/union, states_source/union, issue96/intersection,
issue96/union, random_triangles/xor, grid/xor, asia/union,
circles_vs_rects/xor. This module rebuilds the same cases as kernel
inputs: the native-vs-Python parity tests run every case, and
scripts/run_generated_dataset.py writes the generated pairs as GeoJSON.
Kernel timing is tracked by perfbench's traced `kernel.*` metrics.

Generators are re-expressed from the reference's
tests/src/data_generators.rs:34-141 (grid of centered rects, nested
circle annuli, nested rect annuli, seeded random triangles). The
random-triangle sets use numpy RandomState with the reference's seeds
(1, 2): Rust StdRng streams are not reproducible outside the rand crate,
so the coordinates differ while the shape class, counts, and coordinate
ranges match — documented divergence, deterministic run-to-run here.

The fixture-backed cases load the reference's own GeoJSON operands
read-only from `geojson.REFERENCE_FIXTURES`; a loader whose fixture is
absent returns None and callers skip that case.
"""

from __future__ import annotations

import math
import os

import numpy as np

from .geojson import REFERENCE_FIXTURES, load_fixture


# ---------------------------------------------------------------------------
# Generators (data_generators.rs:8-141 semantics)
# ---------------------------------------------------------------------------

def _rect_centered(cx: float, cy: float, w: float, h: float):
    wh, hh = w / 2.0, h / 2.0
    return [[
        (cx - wh, cy - hh),
        (cx + wh, cy - hh),
        (cx + wh, cy + hh),
        (cx - wh, cy + hh),
        (cx - wh, cy - hh),
    ]]


def _circle_ring(cx: float, cy: float, num_points: int, r: float):
    # data_generators.rs:23-32: phi = i/n * 2pi, point = (cx + r sin, cy + r cos)
    return [
        (cx + r * math.sin(i / num_points * 2.0 * math.pi),
         cy + r * math.cos(i / num_points * 2.0 * math.pi))
        for i in range(num_points)
    ]


def generate_grid(mn: float, mx: float, rect_size: float, num_rects: int):
    positions = [mn + (mx - mn) * i / (num_rects - 1) for i in range(num_rects)]
    return [
        _rect_centered(x, y, rect_size, rect_size)
        for x in positions
        for y in positions
    ]


def generate_nested_circles(cx, cy, r_min, r_max, num_polys, num_points):
    num_radii = 2 * num_polys
    radii = [
        r_min + i * (r_max - r_min) / (num_radii - 1) for i in range(num_radii)
    ]
    return [
        [_circle_ring(cx, cy, num_points, radii[i]),
         _circle_ring(cx, cy, num_points, radii[i + 1])]
        for i in range(0, num_radii, 2)
    ]


def generate_nested_rects(cx, cy, width_min, width_max, num_polys):
    num_widths = 2 * num_polys
    widths = [
        width_min + i * (width_max - width_min) / (num_widths - 1)
        for i in range(num_widths)
    ]
    return [
        [_rect_centered(cx, cy, widths[i], widths[i])[0],
         _rect_centered(cx, cy, widths[i + 1], widths[i + 1])[0]]
        for i in range(0, num_widths, 2)
    ]


def generate_random_triangles(num_polys: int, seed: int):
    rng = np.random.RandomState(seed)
    polys = []
    for _ in range(num_polys):
        pts = [(rng.uniform(-1.0, 1.0), rng.uniform(-1.0, 1.0)) for _ in range(3)]
        polys.append([pts + [pts[0]]])
    return polys


def generate_grid_polygons():
    return generate_grid(-15.0, 15.0, 0.4, 31), generate_grid(-15.4, 15.4, 0.4, 31)


def generate_circles_vs_rects():
    return (
        generate_nested_circles(0.0, 0.0, 1.0, 10.0, 30, 500),
        generate_nested_rects(1.0, 1.0, 2.0, 20.0, 30),
    )


def generate_random_triangles_polygons():
    return generate_random_triangles(10, 1), generate_random_triangles(10, 2)


# ---------------------------------------------------------------------------
# The criterion case table (benchmark.rs:18-81 order)
# ---------------------------------------------------------------------------

def _fixture_loader(rel_path: str):
    def load():
        path = os.path.join(REFERENCE_FIXTURES, rel_path)
        if not os.path.exists(path):
            return None
        subject, clipping, _expected = load_fixture(path)
        return subject, clipping

    return load


CRITERION_CASES = [
    ("hole_hole/union", _fixture_loader("benchmarks/hole_hole.geojson"), "union"),
    ("many_rects/union", _fixture_loader("generic_test_cases/many_rects.geojson"), "union"),
    ("states_source/union", _fixture_loader("benchmarks/states_source.geojson"), "union"),
    ("issue96/intersection", _fixture_loader("generic_test_cases/issue96.geojson"), "intersection"),
    ("issue96/union", _fixture_loader("generic_test_cases/issue96.geojson"), "union"),
    ("random_triangles/xor", generate_random_triangles_polygons, "xor"),
    ("grid/xor", generate_grid_polygons, "xor"),
    ("asia/union", _fixture_loader("benchmarks/asia.geojson"), "union"),
    ("circles_vs_rects/xor", generate_circles_vs_rects, "xor"),
]

