"""Dissolve (distributed union-by-key) operator."""

import json

import pandas as pd
import pytest

from rust_geo_booleanop_spark.kernel import native
from rust_geo_booleanop_spark.kernel.geojson import parse_multipolygon, serialize_multipolygon
from rust_geo_booleanop_spark.operators import dissolve
from rust_geo_booleanop_spark.operators.dissolve import _final_fn, _partial_fn
from rust_geo_booleanop_spark.sources.corpus import case_geometry


def _rect_json(x0, y0, w, h):
    ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


def _area(mp):
    total = 0.0
    for poly in mp:
        for ri, ring in enumerate(poly):
            a = 0.0
            for i in range(len(ring) - 1):
                (x1, y1), (x2, y2) = ring[i], ring[i + 1]
                a += x1 * y2 - x2 * y1
            total += abs(a) / 2.0 * (1 if ri == 0 else -1)
    return total


def _tiling_rows():
    rows = []
    # key "grid": 4x4 adjacent unit squares -> one 4x4 square
    for i in range(4):
        for j in range(4):
            rows.append(("grid", _rect_json(float(i), float(j), 1.0, 1.0)))
    # key "overlap": two half-overlapping rects -> area 1.5
    rows.append(("overlap", _rect_json(0.0, 0.0, 1.0, 1.0)))
    rows.append(("overlap", _rect_json(0.5, 0.0, 1.0, 1.0)))
    # key "disjoint": two separated squares -> 2 polygons
    rows.append(("disjoint", _rect_json(0.0, 0.0, 1.0, 1.0)))
    rows.append(("disjoint", _rect_json(5.0, 5.0, 1.0, 1.0)))
    return rows


class TestDissolve:
    @pytest.fixture(scope="class")
    def tiling(self, spark):
        return spark.createDataFrame(_tiling_rows(), "zone string, geom_json string")

    def test_union_semantics(self, tiling):
        out = {r.key: r for r in dissolve(tiling, key_col="zone", fanin=4).collect()}
        assert all(r.status == "ok" for r in out.values())
        grid = parse_multipolygon(out["grid"].geom_json)
        assert out["grid"].n_polys == 1
        assert _area(grid) == pytest.approx(16.0)
        assert _area(parse_multipolygon(out["overlap"].geom_json)) == pytest.approx(1.5)
        assert out["disjoint"].n_polys == 2
        assert _area(parse_multipolygon(out["disjoint"].geom_json)) == pytest.approx(2.0)

    def test_deterministic_across_partitionings(self, tiling):
        a = {r.key: r.geom_json for r in dissolve(tiling, key_col="zone", fanin=4).collect()}
        b = {
            r.key: r.geom_json
            for r in dissolve(tiling.repartition(7), key_col="zone", fanin=4).collect()
        }
        assert a == b

    def test_fanin_one_matches_multilevel_area(self, tiling):
        # different fold trees may vertex-order differently, but the union
        # region (area, polygon count) is identical
        multi = {r.key: r for r in dissolve(tiling, key_col="zone", fanin=4).collect()}
        single = {r.key: r for r in dissolve(tiling, key_col="zone", fanin=1).collect()}
        for k in multi:
            assert multi[k].n_polys == single[k].n_polys
            assert _area(parse_multipolygon(multi[k].geom_json)) == pytest.approx(
                _area(parse_multipolygon(single[k].geom_json))
            )


def test_non_finite_coordinate_degrades_the_group():
    # json admits NaN tokens; the kernel rejects them before the sweep
    # and the group becomes one invalid_input row instead of a failed task
    rect = _rect_json(0.0, 0.0, 1.0, 1.0)
    nan_rect = rect.replace("0.0, 0.0]", "NaN, 0.0]")
    assert "NaN" in nan_rect
    part = _partial_fn(("k",), pd.DataFrame({"geom_json": [rect, nan_rect]}))
    assert part["status"].tolist() == ["invalid_input"]
    ok = _partial_fn(("k",), pd.DataFrame({"geom_json": [rect]}))
    final = _final_fn(("k",), pd.concat([ok, part]))
    assert final[["geom_json", "n_polys", "status"]].values.tolist() == [
        ["", 0, "invalid_input"]
    ]
    # a bucket holding only the NaN rect makes no kernel call, yet it is
    # an invalid_input partial, and the group degrades at level 2
    lone = _partial_fn(("k",), pd.DataFrame({"geom_json": [nan_rect]}))
    assert lone["status"].tolist() == ["invalid_input"]
    final = _final_fn(("k",), pd.concat([ok, lone]))
    assert final[["geom_json", "n_polys", "status"]].values.tolist() == [
        ["", 0, "invalid_input"]
    ]


def test_null_geometry_degrades_the_group():
    # a SQL NULL geometry (which sorted() cannot order among strings)
    # degrades its key like the JSON literal null
    rect = _rect_json(0.0, 0.0, 1.0, 1.0)
    for jsons in ([rect, None], [None], [rect, "null"]):
        part = _partial_fn(("k",), pd.DataFrame({"geom_json": jsons}))
        assert part["status"].tolist() == ["invalid_input"], jsons
        final = _final_fn(("k",), part)
        assert final[["geom_json", "n_polys", "status"]].values.tolist() == [
            ["", 0, "invalid_input"]
        ]


def _dissolve_groups():
    """(key, buckets) groups: the tiling fixture in two buckets per key,
    plus corpus shapes, overlapping (one case's subject and clipping) and
    disjoint (shapes of several cases)."""
    groups = {}
    for n, (key, gj) in enumerate(_tiling_rows()):
        groups.setdefault(key, [[], []])[n % 2].append(gj)
    for case_idx in (3, 17, 61):
        groups[f"case{case_idx}"] = [
            [serialize_multipolygon(mp)] for mp in case_geometry(case_idx)
        ]
    groups["cases"] = [
        [serialize_multipolygon(case_geometry(i)[i % 2]) for i in range(b, 12, 3)]
        for b in range(3)
    ]
    return groups


def _dissolve_outputs():
    out = []
    for key, buckets in _dissolve_groups().items():
        parts = [
            _partial_fn((key,), pd.DataFrame({"geom_json": b})) for b in buckets if b
        ]
        final = _final_fn((key,), pd.concat(parts))
        out.append(([p.values.tolist() for p in parts], final.values.tolist()))
    return out


@pytest.mark.skipif(not native.NATIVE_AVAILABLE, reason="native kernel did not build")
def test_dissolve_bytes_match_across_engines(monkeypatch):
    # dissolve's output JSON is the same byte for byte with the C kernel
    # loaded and on the pure-Python path
    with_c = _dissolve_outputs()
    assert all(final[0][3] == "ok" for _, final in with_c)
    monkeypatch.setattr(native, "NATIVE_AVAILABLE", False)
    assert _dissolve_outputs() == with_c
