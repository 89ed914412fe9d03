"""Spark-path end-to-end tests.

1. The reference fixture suite THROUGH the Spark kernel stage (mapInArrow):
   JVM -> Arrow -> Python kernel -> Arrow -> JVM must be fixture-exact
   (SURVEY.md §5 test plan, layer b).
2. The synthetic documents pipeline: extraction keeps `text`
   byte-identical per url (BASELINE input_hint invariant), and the Spark
   boolean results equal a local kernel run on identical inputs.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from rust_geo_booleanop_spark.kernel import (
    boolean_op,
    load_fixture,
    parse_multipolygon,
    serialize_multipolygon,
)
from rust_geo_booleanop_spark.kernel.geojson import multipolygon_to_geometry
from rust_geo_booleanop_spark.operators import (
    apply_boolean_ops,
    boolean_pipeline,
    extract_geometries,
    pair_candidates,
)
from rust_geo_booleanop_spark.sources import build_documents
from tests.conftest import REFERENCE_CASES, TESTDATA_SF, requires_reference_corpus


@requires_reference_corpus
def test_fixture_suite_through_spark(spark):
    rows = []
    expect = {}
    for path in REFERENCE_CASES:
        name = os.path.basename(path)
        subject, clipping, expected = load_fixture(path)
        s_json = json.dumps(multipolygon_to_geometry(subject))
        c_json = json.dumps(multipolygon_to_geometry(clipping))
        for op, exp, _swap in expected:
            rows.append((name, f"{name}/s", f"{name}/c", op, s_json, c_json))
            expect[(name, op)] = exp

    pairs = spark.createDataFrame(
        [(hash(r[0]) % 10**9, r[1], r[2], r[4], r[5], r[0], r[3]) for r in rows],
        "case_id long, subject_url string, clipping_url string, "
        "subject_json string, clipping_json string, fixture string, only_op string",
    )
    # one op per row: run the kernel over Arrow batches for exactly that op
    out = []
    for op in sorted({r[3] for r in rows}):
        subset = pairs.filter(F.col("only_op") == op).drop("only_op")
        res = apply_boolean_ops(subset, ops=(op,))
        out.extend(res.select("subject_url", "op", "result_json").collect())

    assert len(out) == len(rows)
    for row in out:
        fixture = row.subject_url[: -len("/s")]
        got = parse_multipolygon(row.result_json)
        assert got == expect[(fixture, row.op)], f"{fixture}/{row.op} deviates via Spark"


def test_text_byte_identical_invariant(spark):
    docs = build_documents(spark, TESTDATA_SF)
    geoms = extract_geometries(docs)
    joined = (
        docs.select("url", F.col("text").alias("text_in"))
        .join(geoms.select("url", F.col("text").alias("text_out")), on="url")
    )
    n = joined.count()
    assert n > 0
    mismatched = joined.filter(
        ~(F.col("text_in").eqNullSafe(F.col("text_out")))
    ).count()
    assert mismatched == 0


def test_spark_results_match_local_kernel(spark):
    docs = build_documents(spark, TESTDATA_SF)
    geoms = extract_geometries(docs)
    results = boolean_pipeline(geoms)
    collected = results.select(
        "case_id", "op", "result_json", "subject_url", "clipping_url"
    ).collect()
    assert len(collected) > 0

    from rust_geo_booleanop_spark.sources import case_geometry

    for row in collected:
        subject, clipping = case_geometry(row.case_id)
        local = boolean_op(subject, clipping, row.op)
        assert serialize_multipolygon(local) == row.result_json, (
            f"case {row.case_id} op {row.op}: Spark result != local kernel"
        )


def test_pair_join_cardinality(spark):
    docs = build_documents(spark, TESTDATA_SF)
    geoms = extract_geometries(docs)
    n_cases = geoms.filter(F.col("role") == "subject").count()
    pairs = pair_candidates(geoms)
    assert pairs.count() == n_cases


def test_pair_candidates_skew_valve(spark):
    """Hot case keys must not silently OOM the collect_list row: the
    default shape fails fast with a routing hint, and the salted shape
    streams the identical pair set through the equi-join."""
    from rust_geo_booleanop_spark.operators.boolean_join import (
        pair_candidates_salted,
    )

    rows = [(1, "subject", f"hot/s{i}", "{}") for i in range(60)]
    rows += [(1, "clipping", "hot/c0", "{}")]
    rows += [(2, "subject", "ok/s", "{}"), (2, "clipping", "ok/c", "{}")]
    geoms = spark.createDataFrame(
        rows, "case_id long, role string, url string, geom_json string"
    )

    with pytest.raises(Exception, match="pair_candidates_salted"):
        pair_candidates(geoms, max_side=50).count()

    # The salted streaming shape handles the hot case: 60x1 + 1x1 pairs.
    salted = pair_candidates_salted(geoms, threshold=10, factor=4)
    assert salted.count() == 61

    # Identical pair sets whenever the default shape is within bounds.
    a = {tuple(r) for r in pair_candidates(geoms, max_side=100).collect()}
    b = {tuple(r) for r in salted.collect()}
    assert a == b


def test_extract_tolerates_dirty_pages(spark):
    """A crawl-scale corpus WILL contain pages whose geo+json block is
    mojibake or truncated JSON; one such page must not fail the task
    (and with it the job). Dirty pages are filtered like pages without
    a geometry block; clean pages in the same Arrow batch still
    extract with exact values."""
    good_geom = (
        '{"type":"MultiPolygon",'
        '"coordinates":[[[[0,0],[4,0],[4,4],[0,4],[0,0]]]]}'
    )

    def page(geom_block):
        return (
            b'<html><script type="application/geo+json">'
            + geom_block
            + b"</script></html>"
        )

    rows = [
        ("http://x/case/7/subject", page(good_geom.encode()), "t7", "en"),
        # invalid UTF-8 inside the block
        ("http://x/bad-utf8", page(b'{"type": \xff\xfe}'), "t1", "en"),
        # not JSON at all
        ("http://x/bad-json", page(b"not json {"), "t2", "en"),
        # valid JSON, wrong geometry type
        ("http://x/bad-type", page(b'{"type":"Point","coordinates":[1,2]}'), "t3", "en"),
        # truncated JSON
        ("http://x/truncated", page(b'{"type":"MultiPolygon","coordinates":[[['), "t4", "en"),
        # NULL html
        ("http://x/null-html", None, "t5", "en"),
        # JSON admits NaN/Infinity tokens; non-finite coordinates would
        # poison the kernel's sweep ordering
        ("http://x/nan-coord", page(
            b'{"type":"MultiPolygon","coordinates":[[[[NaN,0],[1,0],[0,1],[NaN,0]]]]}'
        ), "t6", "en"),
        ("http://x/inf-coord", page(
            b'{"type":"MultiPolygon","coordinates":[[[[1e999,0],[1,0],[0,1],[1e999,0]]]]}'
        ), "t8", "en"),
        # empty coordinates: bbox is the inverted-infinities identity
        ("http://x/empty-geom", page(
            b'{"type":"MultiPolygon","coordinates":[]}'
        ), "t9", "en"),
        # valid JSON, wrong SHAPES: each raises a different exception
        # class out of the bbox parse (TypeError / AttributeError /
        # IndexError), all of which must fail the PAGE, not the task
        ("http://x/null-coords", page(
            b'{"type":"Polygon","coordinates":null}'
        ), "t10", "en"),
        ("http://x/json-array", page(b"[1, 2]"), "t11", "en"),
        ("http://x/json-string", page(b'"hello"'), "t12", "en"),
        ("http://x/null-in-point", page(
            b'{"type":"Polygon","coordinates":[[[null,2],[1,0],[0,1],[null,2]]]}'
        ), "t13", "en"),
        # failed or leaked before one validity rule (kernel/geojson.py):
        # OverflowError, RecursionError, a NaN the bbox skipped, a bool
        # taken for 1.0, a non-finite token outside the coordinates
        ("http://x/huge-int", page(
            b'{"type":"Polygon","coordinates":[[[' + b"1" * 400
            + b',0],[1,0],[0,1],[0,0]]]}'
        ), "t15", "en"),
        ("http://x/deep-nesting", page(
            b'{"type":"Polygon","coordinates":' + b"[" * 200_000 + b"]" * 200_000 + b"}"
        ), "t16", "en"),
        ("http://x/nan-string", page(
            b'{"type":"Polygon","coordinates":[[["nan",0],[1,0],[0,1],["nan",0]]]}'
        ), "t17", "en"),
        ("http://x/true-coord", page(
            b'{"type":"Polygon","coordinates":[[[true,0],[1,0],[0,1],[true,0]]]}'
        ), "t18", "en"),
        ("http://x/inf-bbox", page(
            b'{"type":"Polygon","coordinates":[[[0,0],[1,0],[0,1],[0,0]]],'
            b'"bbox":[0,0,Infinity,1]}'
        ), "t19", "en"),
        # clean geometry whose STRING member contains 'NaN' — must be
        # KEPT (the NaN filter is token-level, not substring-level)
        ("http://x/case/8/subject", page(
            b'{"type":"Polygon",'
            b'"coordinates":[[[0,0],[4,0],[4,4],[0,4],[0,0]]],'
            b'"name":"NaN Ridge"}'
        ), "t14", "en"),
    ]
    docs = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    )
    got = sorted(extract_geometries(docs).collect(), key=lambda r: r.url)
    assert [r.url for r in got] == [
        "http://x/case/7/subject",
        "http://x/case/8/subject",
    ]
    r = got[0]
    assert (r.case_id, r.role) == (7, "subject")
    assert (r.xmin, r.ymin, r.xmax, r.ymax) == (0.0, 0.0, 4.0, 4.0)
    assert r.geom_json == good_geom and r.text == "t7"
    assert (got[1].case_id, got[1].text) == (8, "t14")


def test_dirty_operands_degrade_rows_not_jobs(spark):
    """A Point, a JSON null or a truncated operand beside a clean one:
    apply_boolean_ops gives the dirty pair invalid_input rows and dissolve
    the dirty key one invalid_input row; the clean ones are unchanged and
    no job fails."""
    from rust_geo_booleanop_spark.operators import dissolve

    square = '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}'
    shifted = '{"type":"Polygon","coordinates":[[[1,1],[3,1],[3,3],[1,3],[1,1]]]}'
    dirty = {
        "point": '{"type":"Point","coordinates":[1,1]}',
        "null": "null",
        "truncated": '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,',
    }
    empty = serialize_multipolygon([])
    for name, bad in dirty.items():
        pairs = spark.createDataFrame(
            [(1, "clean/s", "clean/c", square, shifted),
             (2, f"{name}/s", "dirty/c", bad, shifted),
             (3, "dirty/s", f"{name}/c", square, bad)],
            "case_id long, subject_url string, clipping_url string, "
            "subject_json string, clipping_json string",
        )
        rows = apply_boolean_ops(pairs).collect()
        assert len(rows) == 3 * 4, name
        for r in rows:
            if r.case_id == 1:
                want = boolean_op(parse_multipolygon(square), parse_multipolygon(shifted), r.op)
                assert (r.status, r.result_json) == ("ok", serialize_multipolygon(want))
            else:
                assert (r.status, r.result_json, r.n_polys, r.xmin) == (
                    "invalid_input", empty, 0, None), name
        geoms = spark.createDataFrame(
            [("clean", square), ("clean", shifted), ("dirty", square), ("dirty", bad)],
            "key string, geom_json string",
        )
        got = {r.key: r for r in dissolve(geoms, fanin=2).collect()}
        assert (got["clean"].status, got["clean"].n_polys) == ("ok", 1), name
        assert (got["dirty"].status, got["dirty"].geom_json, got["dirty"].n_polys) == (
            "invalid_input", "", 0), name


def test_dirty_geometries_degrade_hull_and_simplify_rows(spark):
    """A Point, a JSON null, truncated JSON and a NaN token beside a valid
    square: convex_hull_geometries and simplify_geometries give each
    rejected geometry one invalid_input row (zero counts, the empty
    MultiPolygon), a SQL NULL geometry NULL payload, and the square the
    local twin's values; no job fails."""
    from rust_geo_booleanop_spark.operators import (
        convex_hull_geometries,
        simplify_geometries,
    )
    from rust_geo_booleanop_spark.operators.hull import multipolygon_hull
    from rust_geo_booleanop_spark.operators.simplify import (
        DEFAULT_SIMPLIFY_TOL,
        simplify_multipolygon,
    )

    square = '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}'
    geoms = spark.createDataFrame(
        [(1, "square", square),
         (2, "point", '{"type":"Point","coordinates":[1,1]}'),
         (3, "null", "null"),
         (4, "truncated", '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,'),
         (5, "nan", '{"type":"Polygon","coordinates":[[[NaN,0],[2,0],[2,2],[NaN,0]]]}'),
         (6, "sql-null", None)],
        "case_id long, role string, geom_json string",
    )
    coords = parse_multipolygon(square)
    n_points, ring = multipolygon_hull(coords)
    simplified = simplify_multipolygon(coords, DEFAULT_SIMPLIFY_TOL)
    empty = serialize_multipolygon([])
    invalid = (0, 0, empty, "invalid_input")
    want = {
        "hull": {
            1: (n_points, len(ring) - 1, serialize_multipolygon([[ring]]), "ok"),
            6: (None,) * 4,
        },
        "simplify": {
            1: (sum(len(r) for p in coords for r in p),
                sum(len(r) for p in simplified for r in p),
                serialize_multipolygon(simplified), "ok"),
            6: (None,) * 4,
        },
    }
    outs = {
        "hull": convex_hull_geometries(geoms),
        "simplify": simplify_geometries(geoms, tol=DEFAULT_SIMPLIFY_TOL),
    }
    for name, out in outs.items():
        got = {r[0]: tuple(r[2:]) for r in out.collect()}
        assert got == {i: want[name].get(i, invalid) for i in range(1, 7)}, name
