"""Spatial join operators: cells, candidate pairs, PIP, kNN, zonal."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_geo_booleanop_spark.functions.cells import (
    bbox_cover_cells,
    cell_bounds,
    cell_size,
    decode_cell,
    encode_cells,
    parent_cell,
    point_cells,
    MAX_COVER_CELLS,
)
from rust_geo_booleanop_spark.kernel.pip import point_in_multipolygon
from rust_geo_booleanop_spark.operators import (
    focal_sum,
    candidate_pairs,
    knn_join,
    point_in_polygon_join,
    zonal_stats_join,
)


class TestCells:
    def test_encode_decode_roundtrip(self):
        for level in (0, 3, 7):
            ids = encode_cells(np.array([-5, 0, 123]), np.array([7, -2, 99]), level)
            for cid, ix, iy in zip(ids, (-5, 0, 123), (7, -2, 99)):
                assert decode_cell(int(cid)) == (level, ix, iy)

    def test_encode_rejects_out_of_range_index(self):
        # an index past [-2^28, 2^28) would spill into the next bit lane
        lim = 1 << 28
        encode_cells(np.array([-lim, lim - 1]), np.array([lim - 1, -lim]), 5)
        for ix, iy in ((lim, 0), (0, -lim - 1)):
            with pytest.raises(ValueError, match="outside"):
                encode_cells(np.array([ix]), np.array([iy]), 5)

    def test_point_cells_and_bounds(self):
        level = 4
        ids = point_cells(np.array([100.0]), np.array([300.0]), level)
        x0, y0, x1, y1 = cell_bounds(int(ids[0]))
        assert x0 <= 100.0 < x1 and y0 <= 300.0 < y1
        assert x1 - x0 == cell_size(level)

    def test_bbox_cover(self):
        level = 4
        size = cell_size(level)
        cells = bbox_cover_cells(0.0, 0.0, size * 1.5, size * 0.5, level)
        assert len(cells) == 2
        assert bbox_cover_cells(float("nan"), 0.0, 1.0, 1.0, level) == []
        assert bbox_cover_cells(0.0, 0.0, float("inf"), 1.0, level) == []

    def test_parent(self):
        cid = int(encode_cells(np.array([10]), np.array([13]), 4)[0])
        assert decode_cell(parent_cell(cid, 3)) == (3, 5, 6)

    def test_jvm_cover_cells_match_python(self, spark):
        """cover_cells_column (pure JVM, round 4) == bbox_cover_cells on a
        battery incl. NaN/infinite/inverted bboxes, negatives, cell-edge-exact
        coordinates, multi-cell spans, huge coordinates, and bboxes past the
        cell index range or over MAX_COVER_CELLS (empty covers)."""
        from rust_geo_booleanop_spark.operators.tiling import cover_cells_column

        size = cell_size(4)
        nan, inf = float("nan"), float("inf")
        boxes = [
            (0.0, 0.0, 1.0, 1.0),
            (0.0, 0.0, size * 1.5, size * 0.5),
            (-3.2 * size, -0.1, 2.7 * size, size),
            (size, size, size, size),            # degenerate point ON an edge
            (size * 0.999, 0.0, size * 1.001, 0.5),
            (nan, nan, nan, nan),                 # degraded row
            (0.0, 0.0, inf, 1.0),                 # infinite bounds
            (-inf, 0.0, 1.0, 1.0),
            (5.0, 5.0, 4.0, 6.0),                 # inverted
            (1e8, -1e8, 1.0000001e8, -0.9999999e8),
            (102400.0, 0.0, 102913.0, 511.0),     # replica-translated frame
            (2.0**34 + 10, 0.0, 2.0**34 + 10, 1.0),  # past the index range at level 6
            (0.0, 0.0, 1e12, 1.0),                # past it at every level
            (0.0, 0.0, 255 * 64.0, 255 * 64.0),   # exactly MAX_COVER_CELLS at level 6
            (0.0, 0.0, 256 * 64.0, 255 * 64.0),   # one column over it
        ]
        for level in (2, 4, 6):
            df = spark.createDataFrame(
                boxes, "xmin double, ymin double, xmax double, ymax double"
            ).withColumn(
                "cells",
                cover_cells_column(
                    F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), level
                ),
            )
            got = [r.cells for r in df.collect()]
            for (a, b, c, d), jvm in zip(boxes, got):
                assert jvm == bbox_cover_cells(a, b, c, d, level), (a, b, c, d, level)
        assert [len(cells) for cells in got[-4:]] == [0, 0, MAX_COVER_CELLS, 0]

    def test_assign_tiles_leaves_infinite_bbox_untiled(self, spark):
        """A row with an infinite bbox bound comes out of assign_tiles once,
        with a NULL tile_id, instead of failing the job."""
        from rust_geo_booleanop_spark.operators import assign_tiles

        df = spark.createDataFrame(
            [(0.0, 0.0, float("inf"), 1.0)],
            "xmin double, ymin double, xmax double, ymax double",
        )
        assert [r.tile_id for r in assign_tiles(df).collect()] == [None]

    def test_tile_pyramid_matches_parent_cell(self, spark):
        """tile_pyramid's JVM parent chain == functions/cells.py::parent_cell
        brute force, including negative cell indices."""
        from rust_geo_booleanop_spark.operators import tile_pyramid

        level = 4
        ixs = [-5, -1, 0, 3, 120, 1000]
        iys = [7, -2, 0, -300, 45, 9999]
        ids = [
            int(encode_cells(np.array([ix]), np.array([iy]), level)[0])
            for ix, iy in zip(ixs, iys)
        ]
        # duplicate some rows so counts matter; add a NULL (degraded) row
        rows = [(i,) for i in ids] + [(ids[0],), (ids[2],), (None,)]
        df = spark.createDataFrame(rows, "tile_id long")
        got = {
            (r.level, r.tile_id): r.n_rows
            for r in tile_pyramid(df, from_level=level, to_level=0).collect()
        }
        expected: dict = {}
        for tid in [i for (i,) in rows if i is not None]:
            for lv in range(0, level + 1):
                key = (lv, parent_cell(tid, lv))
                expected[key] = expected.get(key, 0) + 1
        assert got == expected

    def test_jvm_point_cells_match_python(self, spark):
        from rust_geo_booleanop_spark.operators.spatial_join import with_point_cells

        xs = [0.0, -0.0001, 255.9, 4096.0, -4096.0, 1e7, 102400.5]
        ys = [0.0, 511.9, -255.9, 4095.999, 0.5, -1e7, 97.25]
        df = spark.createDataFrame(
            [(float(x), float(y)) for x, y in zip(xs, ys)], "x double, y double"
        )
        for level in (0, 4, 7):
            got = [r.cell_id for r in with_point_cells(df, level).collect()]
            expected = point_cells(np.array(xs), np.array(ys), level).tolist()
            assert got == expected, level
        # no cell for a coordinate past the index range, NaN or infinite:
        # NULL on the JVM, ValueError from the Python twin
        nan, inf = float("nan"), float("inf")
        bad = [2.0**34 + 10, 1e20, -1e20, nan, inf, -inf]
        df = spark.createDataFrame([(x, 0.0) for x in bad], "x double, y double")
        got = [r.cell_id for r in with_point_cells(df, 6).collect()]
        assert got == [None] * len(bad)
        for x in bad:
            with pytest.raises(ValueError):
                point_cells(np.array([x]), np.array([0.0]), 6)


def _rect_geom(x0, y0, w, h):
    ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


class TestPipJoin:
    def test_matches_bruteforce(self, spark):
        pts = [(i, float(i * 37 % 500), float(i * 53 % 500), 1.0) for i in range(200)]
        points = spark.createDataFrame(pts, "point_id long, x double, y double, value double")
        zones_rows = [
            ("z0", _rect_geom(0, 0, 250, 250), 0.0, 0.0, 250.0, 250.0),
            ("z1", _rect_geom(100, 100, 300, 300), 100.0, 100.0, 400.0, 400.0),
        ]
        zones = spark.createDataFrame(
            zones_rows,
            "zone_key string, geom_json string, xmin double, ymin double, xmax double, ymax double",
        )
        got = {
            (r.point_id, r.zone_key)
            for r in point_in_polygon_join(points, zones).collect()
        }
        want = set()
        for pid, x, y, _ in pts:
            for zk, gj, *_ in zones_rows:
                mp = [json.loads(gj)["coordinates"]]
                if point_in_multipolygon(x, y, mp):
                    want.add((pid, zk))
        assert got == want
        assert len(want) > 0

    def test_boundary_inclusive(self, spark):
        points = spark.createDataFrame(
            [(1, 0.0, 0.0, 0.0), (2, 5.0, 10.0, 0.0), (3, 10.000001, 5.0, 0.0)],
            "point_id long, x double, y double, value double",
        )
        zones = spark.createDataFrame(
            [("z", _rect_geom(0, 0, 10, 10), 0.0, 0.0, 10.0, 10.0)],
            "zone_key string, geom_json string, xmin double, ymin double, xmax double, ymax double",
        )
        got = {r.point_id for r in point_in_polygon_join(points, zones).collect()}
        assert got == {1, 2}  # corner + edge inside, outside point excluded

    def test_rejected_zone_matches_nothing(self, spark):
        """A zone geometry the validity rule rejects beside a valid one
        with the same bbox: the rejected zone matches no point and the
        job does not fail."""
        points = spark.createDataFrame(
            [(1, 1.0, 1.0, 0.0), (2, 5.0, 5.0, 0.0)],
            "point_id long, x double, y double, value double",
        )
        zones = spark.createDataFrame(
            [("point", '{"type":"Point","coordinates":[1,1]}', 0.0, 0.0, 10.0, 10.0),
             ("null", None, 0.0, 0.0, 10.0, 10.0),
             ("z", _rect_geom(0, 0, 10, 10), 0.0, 0.0, 10.0, 10.0)],
            "zone_key string, geom_json string, xmin double, ymin double, xmax double, ymax double",
        )
        got = {(r.point_id, r.zone_key) for r in point_in_polygon_join(points, zones).collect()}
        assert got == {(1, "z"), (2, "z")}

    def test_batch_pip_bit_identical_to_scalar(self):
        """The vectorized batch PIP must agree with the scalar predicate on
        every point — interior, exterior, corners, edge midpoints, points
        collinear with edges but outside them, hole interiors, and
        near-boundary offsets at 1-ulp scale."""
        import numpy as np

        from rust_geo_booleanop_spark.kernel.pip import (
            points_in_multipolygon_batch,
        )

        # polygon with a hole + a triangle (non-axis-aligned edges)
        mp = [
            [
                [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)],
                [(3.0, 3.0), (3.0, 7.0), (7.0, 7.0), (7.0, 3.0), (3.0, 3.0)],
            ],
            [[(20.0, 0.0), (30.0, 5.0), (20.0, 10.0), (20.0, 0.0)]],
        ]
        xs, ys = [], []
        # structured probes
        for x, y in [
            (5.0, 1.0), (5.0, 5.0), (0.0, 0.0), (10.0, 10.0), (5.0, 0.0),
            (3.0, 5.0), (5.0, 3.0), (11.0, 0.0), (-1.0, 0.0), (5.0, 10.0),
            (25.0, 2.5), (25.0, 2.5 + 1e-15), (20.0, 5.0), (30.0, 5.0),
            (25.0, 7.5), (25.0, 7.500000000000001), (15.0, 5.0),
            (np.nextafter(10.0, 11.0), 5.0), (np.nextafter(10.0, 9.0), 5.0),
        ]:
            xs.append(x)
            ys.append(y)
        # pseudo-random grid incl. boundary-collinear rows/cols
        rng = np.random.RandomState(5)
        xs.extend(rng.uniform(-2.0, 32.0, 400).tolist())
        ys.extend(rng.uniform(-2.0, 12.0, 400).tolist())
        xs.extend(np.linspace(-2.0, 32.0, 100).tolist())
        ys.extend([0.0] * 100)  # collinear with the bottom edge

        px = np.array(xs)
        py = np.array(ys)
        got = points_in_multipolygon_batch(px, py, mp)
        want = np.array(
            [point_in_multipolygon(float(x), float(y), mp) for x, y in zip(px, py)]
        )
        assert (got == want).all()
        assert want.any() and not want.all()

    def test_batch_pip_bit_identical_at_huge_magnitude(self):
        """Same bit-identity at coordinate magnitudes ~1e120 where every
        ray-cast intermediate leaves the Shewchuk filter's safe region
        and the exact-rational fallback carries the answer (the scale
        class soak-generator v2 added for the boolean kernel)."""
        import numpy as np

        from rust_geo_booleanop_spark.kernel.pip import (
            points_in_multipolygon_batch,
        )

        s = 1e120
        mp = [
            [
                [(0.0, 0.0), (10 * s, 0.0), (10 * s, 10 * s), (0.0, 10 * s),
                 (0.0, 0.0)],
                [(3 * s, 3 * s), (3 * s, 7 * s), (7 * s, 7 * s), (7 * s, 3 * s),
                 (3 * s, 3 * s)],
            ],
            [[(20 * s, 0.0), (30 * s, 5 * s), (20 * s, 10 * s), (20 * s, 0.0)]],
        ]
        rng = np.random.RandomState(11)
        px = np.concatenate([
            rng.uniform(-2 * s, 32 * s, 300),
            np.array([5 * s, 0.0, 10 * s, 25 * s, 20 * s,
                      np.nextafter(10 * s, 11 * s), np.nextafter(10 * s, 9 * s)]),
        ])
        py = np.concatenate([
            rng.uniform(-2 * s, 12 * s, 300),
            np.array([5 * s, 0.0, 10 * s, 2.5 * s, 5 * s, 5 * s, 5 * s]),
        ])
        got = points_in_multipolygon_batch(px, py, mp)
        want = np.array(
            [point_in_multipolygon(float(x), float(y), mp) for x, y in zip(px, py)]
        )
        assert (got == want).all()
        assert want.any() and not want.all()


class TestKnn:
    def test_knn_exact(self, spark):
        pts = [(i, float(i), 0.0) for i in range(100)]
        points = spark.createDataFrame(pts, "point_id long, x double, y double")
        queries = spark.createDataFrame([(0, 42.2, 0.0)], "query_id int, qx double, qy double")
        got = knn_join(points, queries, k=3).orderBy("rank").collect()
        assert [r.point_id for r in got] == [42, 43, 41]
        assert [r.rank for r in got] == [1, 2, 3]


class TestKnnBucketed:
    def test_matches_brute_force_mixed_density(self, spark):
        import random

        from rust_geo_booleanop_spark.operators import knn_join_bucketed

        rng = random.Random(5)
        pts = [(i, rng.uniform(0, 1000), rng.uniform(0, 1000)) for i in range(200)]
        points = spark.createDataFrame(pts, "point_id long, x double, y double")
        # mixed: dense-area queries satisfied by the ring, a far-away query
        # (no candidates) exercises the exact fallback
        qs = [(i, rng.uniform(0, 1000), rng.uniform(0, 1000)) for i in range(20)]
        qs.append((20, 50000.0, 50000.0))
        queries = spark.createDataFrame(qs, "query_id int, qx double, qy double")

        brute = {
            (r.query_id, r.rank): (r.point_id, r.dist)
            for r in knn_join(points, queries, k=5).collect()
        }
        bucketed = {
            (r.query_id, r.rank): (r.point_id, r.dist)
            for r in knn_join_bucketed(points, queries, k=5, level=4).collect()
        }
        assert bucketed == brute

    def test_query_at_index_range_edge_falls_back(self, spark):
        """A query whose probed ring leaves the cell index range takes the
        exact fallback: the nearest point, just past the range edge, has
        no cell and is found by the broadcast scan only."""
        from rust_geo_booleanop_spark.operators import knn_join_bucketed

        edge = 2.0**28 * cell_size(4)
        pts = [(0, edge + 50.0, 0.0), (1, edge - 300.0, 0.0), (2, 0.0, 0.0)]
        points = spark.createDataFrame(pts, "point_id long, x double, y double")
        queries = spark.createDataFrame(
            [(0, edge - 100.0, 0.0), (1, 10.0, 0.0)], "query_id int, qx double, qy double"
        )
        got = {
            r.query_id: r.point_id
            for r in knn_join_bucketed(points, queries, k=1, level=4).collect()
        }
        assert got == {0: 0, 1: 2}


class TestZonal:
    def test_zonal_counts(self, spark):
        pts = [(i, float(i % 20) * 10.0, 5.0, float(i)) for i in range(40)]
        points = spark.createDataFrame(pts, "point_id long, x double, y double, value double")
        zones = spark.createDataFrame(
            [("left", _rect_geom(0, 0, 95, 10), 0.0, 0.0, 95.0, 10.0)],
            "zone_key string, geom_json string, xmin double, ymin double, xmax double, ymax double",
        )
        rows = zonal_stats_join(points, zones).collect()
        assert len(rows) == 1
        r = rows[0]
        # x in {0,10,...,90} inclusive -> i%20 in 0..9 -> 20 points
        assert r.n_points == 20
        assert r.min_value == 0.0


class TestCandidatePairs:
    def test_diagonal_pairs_only(self, spark):
        # two disjoint cases + one overlapping cross pair
        left_rows = [
            ("s0", _rect_geom(0, 0, 10, 10), 0.0, 0.0, 10.0, 10.0),
            ("s1", _rect_geom(1000, 1000, 10, 10), 1000.0, 1000.0, 1010.0, 1010.0),
        ]
        right_rows = [
            ("c0", _rect_geom(5, 5, 10, 10), 5.0, 5.0, 15.0, 15.0),
            ("c1", _rect_geom(900, 900, 10, 10), 900.0, 900.0, 910.0, 910.0),
        ]
        schema = "url string, geom_json string, xmin double, ymin double, xmax double, ymax double"
        left = spark.createDataFrame(left_rows, schema)
        right = spark.createDataFrame(right_rows, schema)
        pairs = {(r.l_url, r.r_url) for r in candidate_pairs(left, right).collect()}
        assert pairs == {("s0", "c0")}

    def test_dedup_across_cells(self, spark):
        # a bbox spanning many cells must yield exactly one pair
        schema = "url string, geom_json string, xmin double, ymin double, xmax double, ymax double"
        big = spark.createDataFrame(
            [("big", _rect_geom(0, 0, 2000, 2000), 0.0, 0.0, 2000.0, 2000.0)], schema
        )
        small = spark.createDataFrame(
            [("small", _rect_geom(500, 500, 600, 600), 500.0, 500.0, 1100.0, 1100.0)], schema
        )
        rows = candidate_pairs(big, small).collect()
        assert len(rows) == 1


class TestFocalSum:
    def _run(self, spark, cells, radius=1):
        df = spark.createDataFrame(cells, "gx long, gy long, n long")
        out = focal_sum(df, radius=radius)
        return {(r.gx, r.gy): r.focal_sum for r in out.collect()}

    def test_single_cell_spreads_to_nine(self, spark):
        got = self._run(spark, [(5, 5, 7)])
        assert got == {(5 + dx, 5 + dy): 7 for dx in (-1, 0, 1) for dy in (-1, 0, 1)}

    def test_matches_naive_convolution(self, spark):
        import random

        rng = random.Random(3)
        cells = {(rng.randrange(8), rng.randrange(8)): rng.randrange(1, 50)
                 for _ in range(30)}
        rows = [(x, y, n) for (x, y), n in cells.items()]
        for radius in (1, 2):
            expected = {}
            for (x, y), n in cells.items():
                for dx in range(-radius, radius + 1):
                    for dy in range(-radius, radius + 1):
                        k = (x + dx, y + dy)
                        expected[k] = expected.get(k, 0) + n
            assert self._run(spark, rows, radius=radius) == expected

    def test_radius_zero_is_identity(self, spark):
        rows = [(1, 2, 3), (4, 5, 6)]
        assert self._run(spark, rows, radius=0) == {(1, 2): 3, (4, 5): 6}

    def test_plan_is_one_aggregate_no_join(self, spark):
        df = spark.createDataFrame([(1, 1, 1)], "gx long, gy long, n long")
        plan = focal_sum(df)._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Generate" in plan


class TestMorton:
    @staticmethod
    def _py_morton(x, y):
        def spread(v):
            v &= 0xFFFF
            v = (v | (v << 8)) & 0x00FF00FF
            v = (v | (v << 4)) & 0x0F0F0F0F
            v = (v | (v << 2)) & 0x33333333
            v = (v | (v << 1)) & 0x55555555
            return v

        return spread(x) | (spread(y) << 1)

    def test_spark_expr_matches_reference(self, spark):
        from rust_geo_booleanop_spark.functions import morton_expr

        rows = [(x, y) for x in (0, 1, 2, 255, 256, 996, 65535)
                for y in (0, 1, 3, 128, 982, 65535)]
        df = spark.createDataFrame(rows, "x int, y int")  # int on purpose:
        # morton_expr must survive 32-bit input columns (internal long cast)
        got = {(r.x, r.y): r.m
               for r in df.select("x", "y",
                                  morton_expr(F.col("x"), F.col("y")).alias("m")
                                  ).collect()}
        for (x, y), m in got.items():
            assert m == self._py_morton(x, y), (x, y)

    def test_locality_prefix_blocks_are_spatial(self, spark):
        # all points of one 32x32 tile share the morton >> 10 prefix
        from rust_geo_booleanop_spark.functions import morton_expr

        rows = [(x, y) for x in range(32, 64) for y in range(64, 96)]
        df = spark.createDataFrame(rows, "x long, y long")
        blocks = (
            df.select(F.shiftright(morton_expr(F.col("x"), F.col("y")), 10)
                      .alias("b")).distinct().collect()
        )
        assert len(blocks) == 1

    def test_sql_twin_matches_expr(self, spark):
        import duckdb

        from rust_geo_booleanop_spark.functions import morton_expr, morton_sql

        rng = np.random.RandomState(3)
        rows = [(int(a), int(b)) for a, b in rng.randint(0, 65536, size=(300, 2))]
        df = spark.createDataFrame(rows, "x long, y long")
        got = sorted(
            (r.x, r.y, r.m)
            for r in df.select("x", "y",
                               morton_expr(F.col("x"), F.col("y")).alias("m")
                               ).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t (x BIGINT, y BIGINT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = sorted(con.execute(
            f"SELECT x, y, {morton_sql('x', 'y')} FROM t").fetchall())
        assert got == want


class TestNnDistance:
    def test_bucketed_knn_nn_matches_brute_force(self, spark):
        from rust_geo_booleanop_spark.operators import knn_join_bucketed

        rng = np.random.RandomState(29)
        pts = [(i, float(x), float(y))
               for i, (x, y) in enumerate(rng.randint(0, 400, size=(250, 2)))]
        points = spark.createDataFrame(pts, "point_id long, x double, y double")
        queries = points.filter("point_id % 5 = 0").selectExpr(
            "point_id AS query_id", "x AS qx", "y AS qy")
        knn = knn_join_bucketed(points, queries, k=2)
        nonself = knn.filter(F.col("point_id") != F.col("query_id"))
        from pyspark.sql.window import Window

        w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("point_id"))
        got = {
            r.query_id: (r.point_id, r.dist)
            for r in nonself.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1").collect()
        }
        arr = np.array([(x, y) for _, x, y in pts])
        ids = np.array([i for i, _, _ in pts])
        for qi, qx, qy in pts:
            if qi % 5:
                continue
            d2 = (arr[:, 0] - qx) ** 2 + (arr[:, 1] - qy) ** 2
            order = sorted((float(d), int(i)) for d, i in zip(d2, ids) if i != qi)
            assert got[qi] == (order[0][1], order[0][0]), qi


class TestGridClusters:
    def _run(self, spark, cells, min_val=1):
        from rust_geo_booleanop_spark.operators import grid_clusters

        df = spark.createDataFrame(cells, "gx long, gy long, n long")
        rows = grid_clusters(df, min_val=min_val).collect()
        # group cells by cluster rep
        groups = {}
        for r in rows:
            groups.setdefault(r.cluster_rep, set()).add((r.gx, r.gy))
        return set(frozenset(g) for g in groups.values())

    def test_two_blobs_and_isolate(self, spark):
        blob_a = [(0, 0, 5), (0, 1, 5), (1, 1, 5)]       # L-shaped blob
        blob_b = [(10, 10, 5), (11, 11, 5)]              # diagonal = connected
        isolate = [(20, 0, 5)]
        sparse = [(5, 5, 0)]                             # below threshold
        got = self._run(spark, blob_a + blob_b + isolate + sparse, min_val=1)
        # the n=0 cell passes min_val=1? no: n=0 < 1 -> dropped
        assert got == {
            frozenset({(0, 0), (0, 1), (1, 1)}),
            frozenset({(10, 10), (11, 11)}),
            frozenset({(20, 0)}),
        }

    def test_threshold_splits_a_bridge(self, spark):
        # dense-sparse-dense: the sparse bridge cell keeps the blobs apart
        cells = [(0, 0, 9), (1, 0, 2), (2, 0, 9)]
        got = self._run(spark, cells, min_val=5)
        assert got == {frozenset({(0, 0)}), frozenset({(2, 0)})}
        got_low = self._run(spark, cells, min_val=1)
        assert got_low == {frozenset({(0, 0), (1, 0), (2, 0)})}

    def test_negative_coordinates_pack_safely(self, spark):
        cells = [(-1, -1, 3), (0, 0, 3), (-2, 5, 3)]
        got = self._run(spark, cells, min_val=1)
        assert got == {frozenset({(-1, -1), (0, 0)}), frozenset({(-2, 5)})}

    def test_out_of_range_coordinates_raise(self, spark):
        # a cell past [-2^28, 2^28) has no injective key: fail loudly
        with pytest.raises(Exception, match="injective packing range"):
            self._run(spark, [(0, 0, 3), (1 << 28, 0, 3)])

    def test_probe_past_range_edge_does_not_alias(self, spark):
        # the probe (1, 2^28) of the top-edge cell (0, 2^28 - 1) has no
        # key; packed, it would carry into (2, -2^28) and join the two
        lim = 1 << 28
        got = self._run(spark, [(0, lim - 1, 3), (2, -lim, 3)])
        assert got == {frozenset({(0, lim - 1)}), frozenset({(2, -lim)})}

    def test_long_chain_converges(self, spark):
        # a 60-cell snake: pointer doubling must converge within max_iters
        cells = [(i, 0, 1) for i in range(60)]
        got = self._run(spark, cells)
        assert got == {frozenset((i, 0) for i in range(60))}


class TestMoransI:
    @staticmethod
    def _twin(cells):
        """Direct integer-statistics twin of operators/tiling.py::morans_i
        (same n^2-scaled formula, same fixed double tree)."""
        n = len(cells)
        s = sum(cells.values())
        ss = sum(c * c for c in cells.values())
        w = p = t = 0
        for (gx, gy), ca in cells.items():
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    if dx == 0 and dy == 0:
                        continue
                    cb = cells.get((gx + dx, gy + dy))
                    if cb is None:
                        continue
                    w += 1
                    p += ca * cb
                    t += ca + cb
        num = n * n * p - n * s * t + w * s * s
        den = n * n * ss - n * s * s
        moran = (
            None
            if w == 0 or den == 0
            else (float(n) / float(w)) * (float(num) / float(den))
        )
        return (n, w, s, num, den, moran)

    def _run(self, spark, cells):
        from rust_geo_booleanop_spark.operators import morans_i

        df = spark.createDataFrame(
            [(gx, gy, c) for (gx, gy), c in cells.items()],
            "gx long, gy long, n long",
        )
        r = morans_i(df).collect()[0]
        return (r.n_cells, r.w_pairs, r.sum_counts, r.num_scaled,
                r.den_scaled, r.morans_i)

    def test_uniform_surface_has_zero_numerator(self, spark):
        cells = {(x, y): 7 for x in range(4) for y in range(4)}
        n, w, s, num, den, moran = self._run(spark, cells)
        assert (n, s) == (16, 112)
        assert num == 0 and den == 0 and moran is None

    def test_checkerboard_is_negatively_autocorrelated(self, spark):
        cells = {(x, y): (10 if (x + y) % 2 == 0 else 1)
                 for x in range(5) for y in range(5)}
        got = self._run(spark, cells)
        assert got == self._twin(cells)
        assert got[5] < 0

    def test_clustered_blob_is_positively_autocorrelated(self, spark):
        cells = {(x, y): (20 if x < 3 and y < 3 else 1)
                 for x in range(6) for y in range(6)}
        got = self._run(spark, cells)
        assert got == self._twin(cells)
        assert got[5] > 0

    def test_isolated_single_cell_degenerates_to_null(self, spark):
        got = self._run(spark, {(0, 0): 5})
        assert got[:2] == (1, 0) and got[5] is None

    def test_matches_twin_random_sparse(self, spark):
        import random

        rng = random.Random(77)
        cells = {}
        for _ in range(60):
            cells[(rng.randrange(-8, 8), rng.randrange(-8, 8))] = rng.randrange(1, 200)
        assert self._run(spark, cells) == self._twin(cells)
