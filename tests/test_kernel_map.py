"""The kernel stage's marshalling contract (`boolean_join.kernel_map`).

Hand-built rows pin what Spark sees at the Python-worker boundary: a
NaN bbox arrives as NULL, a NULL operand makes no kernel call, tile ids
keep all 64 bits next to NULL rows in the same Arrow batch, the batch C
entry's subject cache and rectangle operands give every tile clip the
bytes of the per-row Python runner, and a chunked payload column becomes
several output batches.
"""

import json

import numpy as np
import pyarrow as pa

from rust_geo_booleanop_spark.functions.cells import cell_size
from rust_geo_booleanop_spark.kernel.pairs import pair_boolean_ops_python
from rust_geo_booleanop_spark.operators import (
    apply_boolean_ops,
    assign_tiles,
    clip_to_tiles,
    tile_area_weights,
)
from rust_geo_booleanop_spark.operators.boolean_join import _result_batches
from rust_geo_booleanop_spark.operators.tiling import tile_square_json

EMPTY = '{"type":"MultiPolygon","coordinates":[]}'


def _square(x0, y0, x1, y1):
    return json.dumps(
        {
            "type": "MultiPolygon",
            "coordinates": [[[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]],
        }
    )


def test_disjoint_pair_has_null_bbox(spark):
    pairs = spark.createDataFrame(
        [(1, "s", "c", _square(0, 0, 1, 1), _square(5, 5, 6, 6))],
        "case_id long, subject_url string, clipping_url string, "
        "subject_json string, clipping_json string",
    )
    rows = {
        r.op: r for r in apply_boolean_ops(pairs, ops=("intersection", "union")).collect()
    }
    inter = rows["intersection"]
    assert (inter.case_id, inter.subject_url, inter.clipping_url) == (1, "s", "c")
    assert (inter.result_json, inter.n_polys, inter.status) == (EMPTY, 0, "ok")
    # NULL, not NaN: the empty result's NaN bbox is masked at the boundary
    assert (inter.xmin, inter.ymin, inter.xmax, inter.ymax) == (None, None, None, None)
    union = rows["union"]
    assert union.n_polys == 2 and union.status == "ok"
    assert (union.xmin, union.ymin, union.xmax, union.ymax) == (0.0, 0.0, 6.0, 6.0)


def test_clip_to_tiles_untiled_row_and_exact_tile_ids(spark):
    # level-7 tile ids need more than 53 bits; the NULL-bbox row shares
    # their Arrow batch (one partition), where a float64 detour of the
    # tile_id column would round them to a neighbouring tile
    # u2 lies past the level-7 cell index range: untiled, never clipped
    # against an aliased tile square
    geom = _square(40.0, 40.0, 70.0, 70.0)
    far = 2.0**34 + 10
    results = spark.createDataFrame(
        [
            ("u0", "intersection", EMPTY, None, None, None, None),
            ("u1", "union", geom, 40.0, 40.0, 70.0, 70.0),
            ("u2", "xor", _square(far, 0.0, far + 1, 1.0), far, 0.0, far + 1, 1.0),
        ],
        "subject_url string, op string, result_json string, "
        "xmin double, ymin double, xmax double, ymax double",
    ).coalesce(1)
    rows = clip_to_tiles(assign_tiles(results, level=7)).collect()
    untiled = [tuple(r) for r in rows if r.url != "u1"]
    assert sorted(untiled) == [
        (None, "u0", "intersection", "", 0, "untiled"),
        (None, "u2", "xor", "", 0, "untiled"),
    ]
    tiled = sorted((r for r in rows if r.url == "u1"), key=lambda r: r.tile_id)
    assert len(tiled) == 4 and len({r.tile_id for r in tiled}) == 4
    for r in tiled:
        ((_, gj, n, *_, status),) = pair_boolean_ops_python(
            geom, tile_square_json(r.tile_id), ("intersection",)
        )
        assert (r.op, r.clipped_json, r.n_polys, r.status) == ("union", gj, n, status)
        assert r.n_polys == 1


def test_clip_to_tiles_many_tiles_per_geometry_match_python(spark):
    # one Arrow batch: a geometry over >= 6 level-6 tiles (consecutive
    # rows share its subject), an untiled row, then a second geometry
    sz = cell_size(6)
    tri = json.dumps(
        {
            "type": "Polygon",
            "coordinates": [
                [[0.1 * sz, 0.2 * sz], [2.9 * sz, 0.1 * sz], [1.3 * sz, 1.9 * sz], [0.1 * sz, 0.2 * sz]]
            ],
        }
    )
    holed = json.dumps(
        {
            "type": "MultiPolygon",
            "coordinates": [
                [
                    [[3.5 * sz, 0.5 * sz], [4.5 * sz, 0.5 * sz], [4.5 * sz, 1.5 * sz], [3.5 * sz, 1.5 * sz], [3.5 * sz, 0.5 * sz]],
                    [[3.9 * sz, 0.9 * sz], [4.1 * sz, 0.9 * sz], [4.1 * sz, 1.1 * sz], [3.9 * sz, 1.1 * sz], [3.9 * sz, 0.9 * sz]],
                ]
            ],
        }
    )
    results = spark.createDataFrame(
        [
            ("u0", "union", tri, 0.1 * sz, 0.1 * sz, 2.9 * sz, 1.9 * sz),
            ("u1", "intersection", EMPTY, None, None, None, None),
            ("u2", "xor", holed, 3.5 * sz, 0.5 * sz, 4.5 * sz, 1.5 * sz),
        ],
        "subject_url string, op string, result_json string, "
        "xmin double, ymin double, xmax double, ymax double",
    ).coalesce(1)
    rows = clip_to_tiles(assign_tiles(results, level=6)).collect()
    assert [tuple(r) for r in rows if r.url == "u1"] == [
        (None, "u1", "intersection", "", 0, "untiled")
    ]
    geoms = {"u0": tri, "u2": holed}
    tiles = {u: [r for r in rows if r.url == u] for u in geoms}
    assert len(tiles["u0"]) >= 6 and len(tiles["u2"]) == 4
    for url, geom in geoms.items():
        for r in tiles[url]:
            ((_, gj, n, *_, status),) = pair_boolean_ops_python(
                geom, tile_square_json(r.tile_id), ("intersection",)
            )
            assert (r.clipped_json, r.n_polys, r.status) == (gj, n, status)
    assert sum(r.n_polys for r in tiles["u0"]) >= 6


def test_tile_area_weights_straddling_square(spark):
    sz = cell_size(4)
    x0, x1, y0, y1 = 0.75 * sz, 1.25 * sz, 0.25 * sz, 0.75 * sz
    geoms = spark.createDataFrame(
        [
            (7, _square(x0, y0, x1, y1), x0, y0, x1, y1),
            # a NULL bbox covers no tile and normalizes to nothing
            (8, _square(x0, y0, x1, y1), None, None, None, None),
            # a NaN bbox covers no tile; its padded NaN rectangle is
            # rejected before the sweep (invalid_input) and normalizes
            # to nothing
            (9, _square(x0, y0, x1, y1), float("nan"), y0, x1, y1),
        ],
        "case_id long, geom_json string, xmin double, ymin double, "
        "xmax double, ymax double",
    )
    rows = sorted(tuple(r) for r in tile_area_weights(geoms, level=4).collect())
    area = (x1 - x0) * (y1 - y0)
    left, right = [r[1] for r in rows]
    assert rows == [
        (7, left, area / 2, area, 0.5),
        (7, right, area / 2, area, 0.5),
    ]


def test_result_batches_split_a_chunked_payload():
    # pa.array chunks a string column past 2 GiB; the output must follow
    # the chunks instead of failing in RecordBatch.from_arrays
    batch = pa.record_batch([pa.array([10, 20, 30])], names=["case_id"])
    ops = ("intersection", "union")
    payload = [
        pa.chunked_array([["a", "b", "c", "d"], ["e", "f"]]),
        pa.array(range(6), pa.int32()),
    ]
    index = np.repeat(np.arange(batch.num_rows), len(ops))
    out = _result_batches(batch, 1, index, payload, ["case_id", "json", "n"])
    assert len(out) == 2
    assert pa.Table.from_batches(out).to_pylist() == [
        {"case_id": c, "json": j, "n": n}
        for c, j, n in zip([10, 10, 20, 20, 30, 30], "abcdef", range(6))
    ]
