"""Plan-shape assertions + GeoJSON/raster source tests."""

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from rust_geo_booleanop_spark.sources import raster_grid
from tests.conftest import REFERENCE_CASES, TESTDATA_SF, requires_reference_corpus


def plan_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestPlanShapes:
    def test_filter_pushdown_reaches_scan(self, spark):
        li = spark.read.parquet(f"{TESTDATA_SF}/lineitem.parquet")
        df = li.filter(F.col("l_quantity") >= 30.0).select("l_orderkey", "l_quantity")
        plan = plan_str(df)
        assert "PushedFilters" in plan
        assert "GreaterThanOrEqual(l_quantity,30.0)" in plan
        # column pruning: scan only reads the two projected columns
        assert "l_orderkey" in plan.split("ReadSchema")[1].splitlines()[0]
        assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]

    def test_dim_join_broadcasts(self, spark):
        # NO broadcast hint: the assertion is that Catalyst AUTO-broadcasts
        # a small dim under autoBroadcastJoinThreshold — an explicit hint
        # would make this pass even if the threshold were disabled
        o = spark.read.parquet(f"{TESTDATA_SF}/orders.parquet")
        c = spark.read.parquet(f"{TESTDATA_SF}/customer.parquet")
        plan = plan_str(o.join(c, o.o_custkey == c.c_custkey))
        assert "BroadcastHashJoin" in plan

    def test_kernel_stage_is_arrow_batched(self, spark):
        from rust_geo_booleanop_spark.operators import (
            assign_tiles,
            boolean_pipeline,
            clip_to_tiles,
            extract_geometries,
            tile_area_weights,
        )
        from rust_geo_booleanop_spark.sources import build_documents

        geoms = extract_geometries(build_documents(spark, TESTDATA_SF))
        results = boolean_pipeline(geoms)
        for df in (results, clip_to_tiles(assign_tiles(results)), tile_area_weights(geoms)):
            plan = plan_str(df)
            assert "MapInArrow" in plan  # Arrow-batched Python, not row UDFs
            assert "BatchEvalPython" not in plan  # no row-at-a-time Python

    def test_bucketed_join_needs_no_exchange(self, spark, tmp_path):
        """Bucketed tables co-locate join keys at WRITE time: a big-big
        equi-join on the bucket key plans with zero Exchange operators —
        the 100 TB recipe for repeated joins on a stable key (write once
        bucketed, join shuffle-free forever after)."""
        warehouse = str(tmp_path / "wh")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS buckdemo LOCATION '{warehouse}'")
        try:
            orders = spark.read.parquet(f"{TESTDATA_SF}/orders.parquet")
            li = spark.read.parquet(f"{TESTDATA_SF}/lineitem.parquet")
            (orders.write.format("parquet").bucketBy(8, "o_orderkey")
             .sortBy("o_orderkey").mode("overwrite")
             .saveAsTable("buckdemo.orders_b"))
            (li.write.format("parquet").bucketBy(8, "l_orderkey")
             .sortBy("l_orderkey").mode("overwrite")
             .saveAsTable("buckdemo.lineitem_b"))
            ob = spark.table("buckdemo.orders_b")
            lb = spark.table("buckdemo.lineitem_b")
            # disable auto-broadcast so the join exercises the bucketed path
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey).select(
                    "l_orderkey", "o_orderpriority"
                )
                plan = plan_str(joined)
                assert "SortMergeJoin" in plan
                assert "Exchange" not in plan  # bucket layout replaces the shuffle
                # sanity: same rows as the unbucketed join
                n_plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
                assert joined.count() == n_plain
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        finally:
            spark.sql("DROP DATABASE IF EXISTS buckdemo CASCADE")

    def test_bbox_stats_prune_geometry_scan(self, spark, tmp_path):
        """The geometry sink layout (bbox as plain double columns) makes
        spatial range predicates Parquet-pushable: a bbox filter reaches
        the scan as PushedFilters and row-group min/max stats prune — the
        engine's 'GeoParquet-style' pushdown story."""
        from rust_geo_booleanop_spark.operators import extract_geometries
        from rust_geo_booleanop_spark.sources import build_documents

        out = str(tmp_path / "geoms")
        geoms = extract_geometries(build_documents(spark, TESTDATA_SF))
        geoms.write.mode("overwrite").parquet(out)

        back = spark.read.parquet(out).filter(
            (F.col("xmax") >= 1000.0) & (F.col("xmin") <= 2000.0)
        ).select("url", "xmin", "xmax")
        plan = plan_str(back)
        assert "PushedFilters" in plan
        assert "GreaterThanOrEqual(xmax,1000.0)" in plan
        assert "LessThanOrEqual(xmin,2000.0)" in plan
        assert back.count() > 0


def test_geojson_source_skips_invalid_geometry(spark, tmp_path):
    """A feature whose geometry the validity rule of kernel/geojson.py
    rejects is skipped like a non-polygon feature; it does not fail the
    read task."""
    import json

    from rust_geo_booleanop_spark.sources import read_feature_collections

    square = [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]
    features = [
        {"type": "Feature", "properties": {}, "geometry": geometry}
        for geometry in (
            {"type": "Polygon", "coordinates": None},
            {"type": "Polygon", "coordinates": square},
        )
    ]
    (tmp_path / "case.geojson").write_text(
        json.dumps({"type": "FeatureCollection", "features": features})
    )
    # a file nested too deep for the decoder is skipped like any non-JSON
    (tmp_path / "deep.geojson").write_text('{"features":' + "[" * 200_000 + "]" * 200_000 + "}")
    rows = read_feature_collections(spark, str(tmp_path)).collect()
    assert [(r.case_key, r.feature_no, r.xmax) for r in rows] == [("case", 1, 2.0)]


def test_geojson_source_non_object_properties_read_as_none():
    """RFC 7946 allows an object or null as a feature's properties; any
    other value reads as no properties instead of failing the read task."""
    import json

    import pandas as pd

    from rust_geo_booleanop_spark.sources.geojson_source import _parse_batches

    square = {"type": "Polygon", "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]}
    props = (["x"], "s", 7, None, {"operation": "union", "swap_ab_is_broken": True})
    features = [{"type": "Feature", "properties": p, "geometry": square} for p in props]
    content = json.dumps({"type": "FeatureCollection", "features": features}).encode()
    (out,) = _parse_batches(iter([pd.DataFrame({"path": ["case.geojson"], "content": [content]})]))
    assert out["operation"].tolist() == [None] * 4 + ["union"]
    assert out["swap_ab_is_broken"].tolist() == [False] * 4 + [True]


@requires_reference_corpus
class TestGeoJsonSource:
    def test_read_feature_collections(self, spark):
        from rust_geo_booleanop_spark.sources import fixture_pairs, read_feature_collections

        features = read_feature_collections(spark, os.path.dirname(REFERENCE_CASES[0]))
        n_files = features.select("case_key").distinct().count()
        assert n_files == len(REFERENCE_CASES)
        pairs = fixture_pairs(features)
        assert pairs.count() == len(REFERENCE_CASES)

    def test_roundtrip_write(self, spark, tmp_path):
        import json

        from rust_geo_booleanop_spark.operators import apply_boolean_ops
        from rust_geo_booleanop_spark.sources import (
            fixture_pairs,
            read_feature_collections,
            write_feature_collection,
        )

        features = read_feature_collections(spark, os.path.dirname(REFERENCE_CASES[0]))
        pairs = fixture_pairs(features).filter(F.col("case_key") == "basic1_poly")
        res = apply_boolean_ops(pairs)
        out = str(tmp_path / "out.geojson")
        n = write_feature_collection(res, out)
        assert n == 4
        fc = json.load(open(out))
        assert fc["type"] == "FeatureCollection"
        ops = {f["properties"]["op"] for f in fc["features"]}
        assert ops == {"intersection", "union", "diff", "xor"}


class TestRaster:
    def test_raster_grid_deterministic(self, spark):
        g = raster_grid(spark, 10, 10, pixel_size=2.0)
        rows = {(r.px, r.py): (r.x, r.y, r.value) for r in g.collect()}
        assert len(rows) == 100
        assert rows[(0, 0)] == (1.0, 1.0, 0.0)
        assert rows[(3, 4)][0] == 7.0  # (3 + 0.5) * 2
        # JVM-only generation: no Python nodes in the plan
        assert "InPandas" not in plan_str(g) and "EvalPython" not in plan_str(g)


class TestCompactGeojsonWriter:
    """Round 3: the GeoJSON sink emits the reference writer's exact byte
    format (tests/src/compact_geojson.rs). The reference's committed
    fixture corpus IS that writer's output, so byte-identity over all 45
    files is full format parity — indentation, key order, JS-style
    numbers."""

    @requires_reference_corpus
    def test_all_45_fixtures_roundtrip_byte_identical(self):
        import json

        from rust_geo_booleanop_spark.kernel.geojson import reference_case_files
        from rust_geo_booleanop_spark.sources.geojson_source import (
            compact_feature_collection,
        )

        for path in reference_case_files():
            orig = open(path).read()
            ours = compact_feature_collection(json.loads(orig)["features"])
            assert ours == orig, path

    def test_js_number_formatting(self):
        from rust_geo_booleanop_spark.sources.geojson_source import format_js_number

        assert format_js_number(5.0) == "5"
        assert format_js_number(-0.5) == "-0.5"
        assert format_js_number(56.819774453961585) == "56.819774453961585"
        assert format_js_number(1e30) == "1e30"
        assert format_js_number(1.5e-7) == "1.5e-7"
        assert format_js_number(-2e21) == "-2e21"


def test_flagship_plan_scans_documents_once(spark):
    """The round-3 single-pass pair join: the full flagship plan must hold
    exactly ONE parquet scan of the documents table, ONE synthesis
    MapInPandas and ONE extraction + ONE kernel MapInArrow — the pre-round-3
    self-join shape planned the scan and extraction twice, doubling the
    most expensive scan+parse stage at 100 TB."""
    from rust_geo_booleanop_spark.operators import (
        assign_tiles,
        boolean_pipeline,
        extract_geometries,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    docs = build_documents(spark, TESTDATA_SF)
    tiled = assign_tiles(boolean_pipeline(extract_geometries(docs)))
    plan = tiled._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("MapInPandas") == 1  # synthesis
    assert plan.count("MapInArrow") == 2  # extraction, kernel


class TestTileAreaWeights:
    def test_straddling_square_splits_weight(self, spark):
        from rust_geo_booleanop_spark.functions.cells import cell_size
        from rust_geo_booleanop_spark.operators import tile_area_weights
        import json as _json

        sz = cell_size(4)
        # square centered on the x-boundary between tiles (ix=0, ix=1):
        # covers [sz-0.25*sz, sz+0.25*sz] x [0.25*sz, 0.75*sz]
        x0, x1 = 0.75 * sz, 1.25 * sz
        y0, y1 = 0.25 * sz, 0.75 * sz
        gj = _json.dumps({
            "type": "MultiPolygon",
            "coordinates": [[[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]],
        })
        geoms = spark.createDataFrame(
            [(7, gj, x0, y0, x1, y1)],
            "case_id long, geom_json string, xmin double, ymin double, "
            "xmax double, ymax double",
        )
        rows = tile_area_weights(geoms, level=4).collect()
        assert len(rows) == 2
        ws = sorted(r.weight for r in rows)
        assert ws == [0.5, 0.5]
        assert all(r.geom_area == (x1 - x0) * (y1 - y0) for r in rows)
        # weights over the covering tiles of a fully-covered geometry
        # partition its area
        assert sum(r.clip_area for r in rows) == rows[0].geom_area

    def test_contained_geometry_single_tile_weight_one(self, spark):
        from rust_geo_booleanop_spark.functions.cells import cell_size
        from rust_geo_booleanop_spark.operators import tile_area_weights
        import json as _json

        sz = cell_size(4)
        gj = _json.dumps({
            "type": "MultiPolygon",
            "coordinates": [[[[0.1 * sz, 0.1 * sz], [0.4 * sz, 0.1 * sz],
                              [0.4 * sz, 0.4 * sz], [0.1 * sz, 0.4 * sz],
                              [0.1 * sz, 0.1 * sz]]]],
        })
        geoms = spark.createDataFrame(
            [(1, gj, 0.1 * sz, 0.1 * sz, 0.4 * sz, 0.4 * sz)],
            "case_id long, geom_json string, xmin double, ymin double, "
            "xmax double, ymax double",
        )
        rows = tile_area_weights(geoms, level=4).collect()
        assert len(rows) == 1 and rows[0].weight == 1.0


def test_token_freq_score_plan_reuses_tfd(spark):
    """t19's every branch derives from the shared (doc, token) count
    aggregate: after AQE the final plan must reuse that Exchange and
    scan the text column at most twice (the naive raw-token-join shape
    scanned/exploded the corpus per branch — 4+ text scans)."""
    import re

    from rust_geo_booleanop_spark.operators import token_freq_score

    df = token_freq_score(
        spark.read.parquet(f"{TESTDATA_SF}/documents.parquet")
    )
    df.collect()  # AQE finalizes the plan only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1
    text_scans = len(re.findall(r"ReadSchema: struct<[^>]*text", final))
    assert text_scans <= 2, final


def test_run_generated_dataset_cli(tmp_path):
    """The generated-dataset runner (scripts/run_generated_dataset.py,
    the run_generated_dataset.rs twin) writes a parseable 3-feature
    compact FeatureCollection whose result feature matches a direct
    kernel call on the same generated pair."""
    import json
    import subprocess
    import sys

    from rust_geo_booleanop_spark.kernel import boolean_op
    from rust_geo_booleanop_spark.kernel.bench_cases import (
        generate_random_triangles_polygons,
    )
    from rust_geo_booleanop_spark.kernel.geojson import geometry_to_multipolygon

    out = tmp_path / "rt.geojson"
    r = subprocess.run(
        [sys.executable, "scripts/run_generated_dataset.py",
         "random_triangles", "--op", "xor", "--out", str(out)],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert r.returncode == 0, r.stderr
    fc = json.loads(out.read_text())
    feats = fc["features"]
    assert len(feats) == 3
    assert feats[2]["properties"] == {"operation": "xor"}
    a, b = generate_random_triangles_polygons()
    expect = boolean_op(a, b, "xor")
    got = geometry_to_multipolygon(feats[2]["geometry"])
    assert got == expect


def test_local_cpus_defaults_to_usable_cores(monkeypatch):
    from rust_geo_booleanop_spark.plans import local_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
