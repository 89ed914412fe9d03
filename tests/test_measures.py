"""Round-4 tail operators: geometry_measures (g16), tfidf_top_terms (t13), chunk_documents (t14)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from rust_geo_booleanop_spark.operators import (
    geometry_measures,
    measures_python,
    tfidf_top_terms,
)
from tests.conftest import TESTDATA_SF

UNIT_SQUARE = {
    "type": "MultiPolygon",
    "coordinates": [[[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]]],
}
# CCW exterior + CW hole: signed shoelace nets exterior - hole
SQUARE_WITH_HOLE = {
    "type": "MultiPolygon",
    "coordinates": [
        [
            [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
            [[1.0, 1.0], [1.0, 3.0], [3.0, 3.0], [3.0, 1.0], [1.0, 1.0]],
        ]
    ],
}


class TestGeometryMeasures:
    def _measure_one(self, spark, geom):
        gj = json.dumps(geom, separators=(",", ":"))
        df = spark.createDataFrame([(gj,)], "geom_json string")
        return geometry_measures(df).drop("geom_json").collect()[0]

    def test_unit_square(self, spark):
        r = self._measure_one(spark, UNIT_SQUARE)
        assert (r.n_polys, r.n_rings, r.n_vertices) == (1, 1, 5)
        assert r.area == 16.0
        assert (r.xmin, r.ymin, r.xmax, r.ymax) == (0.0, 0.0, 4.0, 4.0)

    def test_hole_subtracts(self, spark):
        r = self._measure_one(spark, SQUARE_WITH_HOLE)
        assert (r.n_polys, r.n_rings, r.n_vertices) == (1, 2, 10)
        assert r.area == 12.0  # 16 - 4

    def test_empty_ring_folds_to_zero(self, spark):
        """A degenerate empty ring must fold to 0 on BOTH engines (the
        JVM slice length is clamped at 0; the twin's loop runs zero
        iterations) instead of crashing slice() with length -1."""
        geom = {
            "type": "MultiPolygon",
            "coordinates": [
                [
                    [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
                    [],
                ]
            ],
        }
        gj = json.dumps(geom, separators=(",", ":"))
        r = self._measure_one(spark, geom)
        exp = measures_python(gj)
        assert (r.n_rings, r.n_vertices, r.area) == (2, 5, 16.0)
        for k, v in exp.items():
            assert getattr(r, k) == v, k

    def test_bit_identical_to_python_twin_on_corpus(self, spark):
        """JVM fold vs CPython twin, every geometry at sf0.001, exact ==
        plus repr equality (catches a -0.0/0.0 zero-sign divergence that
        == alone would pass)."""
        from rust_geo_booleanop_spark.operators import extract_geometries
        from rust_geo_booleanop_spark.sources import build_documents

        geoms = extract_geometries(
            build_documents(spark, TESTDATA_SF)
        ).select("case_id", "role", "geom_json")
        rows = geometry_measures(geoms).collect()
        assert len(rows) == 500
        for r in rows:
            exp = measures_python(r.geom_json)
            for k, v in exp.items():
                got = getattr(r, k)
                assert got == v and repr(got) == repr(v), (r.case_id, r.role, k)

    def test_fixture_matches_corpus_serialization(self):
        """The fixture generator's geometry bytes equal what the html
        extraction path yields (serialize == the embedded script block),
        so the fixture grades the same strings the Spark query parses."""
        from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
        from rust_geo_booleanop_spark.sources.corpus import case_geometry
        from rust_geo_booleanop_spark.sources.documents import synth_html

        subject, _ = case_geometry(7)
        html = synth_html(14, "x")  # doc 14 = case 7 subject
        embedded = html.split(b'geo+json">')[1].split(b"</script>")[0].decode()
        assert embedded == serialize_multipolygon(subject)


class TestTfidfTopTerms:
    def test_small_frame_ranks(self, spark):
        docs = spark.createDataFrame(
            [
                (0, "apple banana apple"),
                (1, "banana cherry"),
                (2, "cherry cherry durian"),
            ],
            "doc_id long, text string",
        )
        out = {
            (r.doc_id, r.rank): (r.term, r.tf, r.df, r.score)
            for r in tfidf_top_terms(docs, k=2).collect()
        }
        # doc 0: apple tf=2 df=1 -> 2*(3/2)=3.0 beats banana tf=1 df=2 -> 1.0
        assert out[(0, 1)] == ("apple", 2, 1, 3.0)
        assert out[(0, 2)] == ("banana", 1, 2, 1.0)
        # doc 2: cherry tf=2 df=2 -> 2.0 beats durian tf=1 df=1 -> 1.5
        assert out[(2, 1)] == ("cherry", 2, 2, 2.0)
        assert out[(2, 2)] == ("durian", 1, 1, 1.5)

    def test_tie_breaks_by_term(self, spark):
        docs = spark.createDataFrame(
            [(0, "b a"), (1, "a b")], "doc_id long, text string"
        )
        rows = tfidf_top_terms(docs, k=2).collect()
        for r in rows:
            # identical scores -> term ASC decides: 'a' is always rank 1
            assert (r.rank == 1) == (r.term == "a")

    def test_blank_and_empty_dropped(self, spark):
        docs = spark.createDataFrame(
            [(0, "  "), (1, ""), (2, "word")], "doc_id long, text string"
        )
        rows = tfidf_top_terms(docs, k=3).collect()
        assert [(r.doc_id, r.term) for r in rows] == [(2, "word")]


class TestChunkDocuments:
    def _chunks(self, spark, text, chunk_tokens=8, overlap=2):
        from rust_geo_booleanop_spark.operators import chunk_documents

        docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
        rows = chunk_documents(
            docs, chunk_tokens=chunk_tokens, overlap=overlap
        ).collect()
        return [(r.chunk_idx, r.chunk_text, r.n_chunk_tokens) for r in rows]

    def test_short_doc_single_chunk(self, spark):
        assert self._chunks(spark, "a b c") == [(0, "a b c", 3)]

    def test_exact_multiple_windows(self, spark):
        toks = " ".join(f"t{i}" for i in range(14))
        out = self._chunks(spark, toks, chunk_tokens=8, overlap=2)
        # stride 6: starts 0, 6 (12 >= 14-2 dropped as suffix of window 1)
        assert [c[0] for c in out] == [0, 1]
        assert out[0][1].split() == [f"t{i}" for i in range(8)]
        assert out[1][1].split() == [f"t{i}" for i in range(6, 14)]
        assert [c[2] for c in out] == [8, 8]

    def test_tail_window_not_suffix(self, spark):
        toks = " ".join(f"t{i}" for i in range(15))
        out = self._chunks(spark, toks, chunk_tokens=8, overlap=2)
        # start 12 < 15-2 -> kept, truncated to 3 tokens
        assert [c[0] for c in out] == [0, 1, 2]
        assert out[2] == (2, "t12 t13 t14", 3)

    def test_overlap_reconstructs_document(self, spark):
        toks = [f"t{i}" for i in range(40)]
        out = self._chunks(spark, " ".join(toks), chunk_tokens=8, overlap=2)
        rebuilt = out[0][1].split()
        for _, text, _ in out[1:]:
            rebuilt.extend(text.split()[2:])  # drop the 2-token overlap
        assert rebuilt == toks

    def test_blank_and_empty_no_chunks(self, spark):
        assert self._chunks(spark, "") == []
        assert self._chunks(spark, "   ") == []

    def test_invalid_overlap_raises(self, spark):
        from rust_geo_booleanop_spark.operators import chunk_documents

        docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            chunk_documents(docs, chunk_tokens=8, overlap=8)


class TestIouPerCase:
    def test_known_overlap(self, spark):
        from rust_geo_booleanop_spark.operators import apply_boolean_ops, iou_per_case

        # unit squares [0,1]x[0,1] and [0.5,1.5]x[0,1]:
        # intersection 0.5, union 1.5, iou = 1/3
        sq = lambda x0, x1: json.dumps({
            "type": "MultiPolygon",
            "coordinates": [[[[x0, 0.0], [x1, 0.0], [x1, 1.0], [x0, 1.0], [x0, 0.0]]]],
        })
        pairs = spark.createDataFrame(
            [
                (0, "u://s0", sq(0.0, 1.0), "u://c0", sq(0.5, 1.5)),
                # disjoint pair: intersection empty -> iou 0.0
                (1, "u://s1", sq(0.0, 1.0), "u://c1", sq(5.0, 6.0)),
            ],
            "case_id long, subject_url string, subject_json string, "
            "clipping_url string, clipping_json string",
        )
        res = apply_boolean_ops(pairs, ops=("intersection", "union"))
        got = {r.case_id: r for r in iou_per_case(res).collect()}
        assert got[0].area_intersection == 0.5
        assert got[0].area_union == 1.5
        assert got[0].iou == 0.5 / 1.5
        assert got[1].area_intersection == 0.0
        assert got[1].area_union == 2.0 and got[1].iou == 0.0

    def test_area_python_twin_and_empty(self):
        from rust_geo_booleanop_spark.operators import area_python, measures_python

        gj = json.dumps(SQUARE_WITH_HOLE)
        assert area_python(gj) == measures_python(gj)["area"]
        assert area_python('{"type": "MultiPolygon", "coordinates": []}') == 0.0


class TestShapeStats:
    def _stats_one(self, spark, geom):
        from rust_geo_booleanop_spark.operators import shape_stats

        gj = json.dumps(geom, separators=(",", ":"))
        df = spark.createDataFrame([(gj,)], "geom_json string")
        return shape_stats(df).drop("geom_json").collect()[0]

    def test_unit_square(self, spark):
        r = self._stats_one(spark, UNIT_SQUARE)
        assert r.region_area == 16.0
        assert (r.centroid_x, r.centroid_y) == (2.0, 2.0)
        assert r.perimeter == 16.0

    def test_hole_subtracts_area_adds_perimeter(self, spark):
        r = self._stats_one(spark, SQUARE_WITH_HOLE)
        assert r.region_area == 12.0  # 16 - 4
        # concentric hole keeps the centroid at the center
        assert (r.centroid_x, r.centroid_y) == (2.0, 2.0)
        assert r.perimeter == 16.0 + 8.0  # hole boundary ADDS

    def test_off_center_hole_shifts_centroid(self, spark):
        geom = {
            "type": "MultiPolygon",
            "coordinates": [
                [
                    [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]],
                    [[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, 0.0], [0.0, 0.0]],
                ]
            ],
        }
        r = self._stats_one(spark, geom)
        assert r.region_area == 15.0
        # (16*2 - 1*0.5) / 15 = 2.1
        assert abs(r.centroid_x - 2.1) < 1e-12
        assert abs(r.centroid_y - 2.1) < 1e-12
        assert r.perimeter == 20.0

    def test_winding_robust(self, spark):
        """Reversing the hole's winding (kernel outputs don't guarantee
        hole orientation, connect_edges.rs:288) must not change any
        statistic — structural ring position, not sign, decides holes."""
        flipped = {
            "type": "MultiPolygon",
            "coordinates": [
                [
                    SQUARE_WITH_HOLE["coordinates"][0][0],
                    list(reversed(SQUARE_WITH_HOLE["coordinates"][0][1])),
                ]
            ],
        }
        a = self._stats_one(spark, SQUARE_WITH_HOLE)
        b = self._stats_one(spark, flipped)
        assert (a.region_area, a.centroid_x, a.centroid_y, a.perimeter) == (
            b.region_area,
            b.centroid_x,
            b.centroid_y,
            b.perimeter,
        )

    def test_zero_area_null_centroid(self, spark):
        degenerate = {
            "type": "MultiPolygon",
            "coordinates": [[[[0.0, 0.0], [2.0, 0.0], [0.0, 0.0]]]],
        }
        r = self._stats_one(spark, degenerate)
        assert r.region_area == 0.0
        assert r.centroid_x is None and r.centroid_y is None
        assert r.perimeter == 4.0

    def test_bit_identical_to_python_twin_on_corpus(self, spark):
        """JVM folds vs the CPython twin, every geometry at sf0.001,
        exact == plus repr equality (zero-sign divergences)."""
        from rust_geo_booleanop_spark.operators import (
            extract_geometries,
            shape_stats,
            shape_stats_python,
        )
        from rust_geo_booleanop_spark.sources import build_documents

        geoms = extract_geometries(
            build_documents(spark, TESTDATA_SF)
        ).select("case_id", "role", "geom_json")
        rows = shape_stats(geoms).collect()
        assert len(rows) == 500
        for r in rows:
            exp = shape_stats_python(r.geom_json)
            for k, v in exp.items():
                got = getattr(r, k)
                assert got == v and repr(got) == repr(v), (r.case_id, r.role, k)


class TestShapeCompactness:
    def _one(self, spark, geom):
        from rust_geo_booleanop_spark.operators import shape_compactness

        gj = json.dumps(geom, separators=(",", ":"))
        df = spark.createDataFrame([(gj,)], "geom_json string")
        return shape_compactness(df).collect()[0]

    def test_square_is_pi_over_4(self, spark):
        import math

        r = self._one(spark, UNIT_SQUARE)
        # 4*pi*16 / 16^2 == pi/4 up to the exact op order
        exp = ((4.0 * math.pi) * 16.0) / (16.0 * 16.0)
        assert r.compactness == exp
        assert abs(r.compactness - math.pi / 4.0) < 1e-15

    def test_sliver_scores_lower_than_square(self, spark):
        sliver = {
            "type": "MultiPolygon",
            "coordinates": [
                [[[0.0, 0.0], [100.0, 0.0], [100.0, 0.1], [0.0, 0.1], [0.0, 0.0]]]
            ],
        }
        sq = self._one(spark, UNIT_SQUARE)
        sl = self._one(spark, sliver)
        assert sl.compactness < sq.compactness

    def test_degenerate_line_ring_is_zero(self, spark):
        line = {
            "type": "MultiPolygon",
            "coordinates": [[[[0.0, 0.0], [2.0, 0.0], [0.0, 0.0]]]],
        }
        r = self._one(spark, line)
        assert r.compactness == 0.0

    def test_empty_geometry_null(self, spark):
        r = self._one(spark, {"type": "MultiPolygon", "coordinates": []})
        assert r.compactness is None
