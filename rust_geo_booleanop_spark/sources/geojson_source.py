"""GeoJSON FeatureCollection source + sink.

The reference's I/O surface is fixture-style FeatureCollection files
(loader /root/reference/tests/src/helper.rs:49-94, writer
tests/src/compact_geojson.rs). The Spark equivalents:

- `read_feature_collections`: a directory of *.geojson files -> DataFrame
  with one row per feature valid under kernel/geojson.py's rule: file
  stem as case key, feature index, operation annotation (for expected
  results), geometry as canonical GeoJSON text, and its bbox columns.
- `write_feature_collection`: result rows -> one FeatureCollection file
  (driver-side; per-partition sharding for big outputs).

Reading uses Spark's binaryFile source so the files stream through
executors (scales to millions of small files via the usual file-listing
parallelism), then parses per Arrow batch.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.geojson import (
    geometry_to_multipolygon,
    multipolygon_bbox,
    multipolygon_to_geometry,
)

FEATURES_SCHEMA = (
    "case_key string, feature_no int, role string, operation string, "
    "swap_ab_is_broken boolean, geom_json string, "
    "xmin double, ymin double, xmax double, ymax double"
)


def _parse_batches(batches: Iterator[pd.DataFrame], base_dir: str = "") -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "case_key": [], "feature_no": [], "role": [], "operation": [],
            "swap_ab_is_broken": [], "geom_json": [],
            "xmin": [], "ymin": [], "xmax": [], "ymax": [],
        }
        for path, content in zip(pdf["path"], pdf["content"]):
            # case_key = path RELATIVE to the scanned dir, sans extension
            # ("/" -> "__"): bare basenames collide across subdirectories
            # and would cross-pair geometries in fixture_pairs' equi-join;
            # for a flat directory this stays the plain basename
            name = path
            if name.startswith("file:"):
                name = name[len("file:"):]
            if base_dir and name.startswith(base_dir):
                name = name[len(base_dir):].lstrip("/")
            else:
                name = os.path.basename(name)
            if name.endswith(".geojson"):
                name = name[: -len(".geojson")]
            name = name.replace("/", "__")
            try:
                fc = json.loads(bytes(content).decode("utf-8"))
                features = fc["features"]
                if not isinstance(features, list):
                    continue
            except (ValueError, KeyError, TypeError, RecursionError):
                continue  # not a FeatureCollection: skip the file
            for i, feat in enumerate(features):
                if not isinstance(feat, dict):
                    continue
                try:
                    mp = geometry_to_multipolygon(feat.get("geometry"))
                except ValueError:
                    continue  # not a valid Polygon/MultiPolygon: skip it
                props = feat.get("properties")
                if not isinstance(props, dict):  # RFC 7946: an object or null
                    props = {}
                xmin, ymin, xmax, ymax = multipolygon_bbox(mp)
                role = "subject" if i == 0 else ("clipping" if i == 1 else "expected")
                out["case_key"].append(name)
                out["feature_no"].append(i)
                out["role"].append(role)
                out["operation"].append(props.get("operation"))
                out["swap_ab_is_broken"].append(bool(props.get("swap_ab_is_broken", False)))
                out["geom_json"].append(
                    json.dumps(multipolygon_to_geometry(mp), separators=(",", ":"))
                )
                out["xmin"].append(xmin)
                out["ymin"].append(ymin)
                out["xmax"].append(xmax)
                out["ymax"].append(ymax)
        yield pd.DataFrame(out)


def read_feature_collections(spark, path: str) -> DataFrame:
    """Directory (or glob) of .geojson FeatureCollections -> feature rows."""
    import functools

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.geojson")
        .load(path)
        .select("path", "content")
    )
    base_dir = os.path.abspath(path).rstrip("/")
    return binary.mapInPandas(
        functools.partial(_parse_batches, base_dir=base_dir), schema=FEATURES_SCHEMA
    )


def fixture_pairs(features: DataFrame) -> DataFrame:
    """(case_key, subject_json, clipping_json) — one row per fixture file."""
    subj = features.filter(F.col("feature_no") == 0).select(
        "case_key",
        F.col("geom_json").alias("subject_json"),
        F.col("case_key").alias("subject_url"),
    )
    clip = features.filter(F.col("feature_no") == 1).select(
        "case_key",
        F.col("geom_json").alias("clipping_json"),
        F.col("case_key").alias("clipping_url"),
    )
    return (
        subj.join(clip, on="case_key")
        .withColumn("case_id", F.xxhash64("case_key"))
        .select(
            "case_id", "case_key", "subject_url", "clipping_url",
            "subject_json", "clipping_json",
        )
    )


def format_js_number(x) -> str:
    """serde_json / JS-style float formatting (compact_geojson.rs:45-52):
    shortest round-trip repr with the trailing `.0` stripped from integral
    floats, and Rust/JS exponent spelling (`1e30`, `1.5e-7`) instead of
    Python's (`1e+30`, `1.5e-07`)."""
    s = repr(float(x))
    if s.endswith(".0"):
        s = s[:-2]
    if "e" in s:
        mant, exp = s.split("e")
        sign = "-" if exp.startswith("-") else ""
        s = f"{mant}e{sign}{int(exp.lstrip('+-'))}"
    return s


def _compact_polygon(out: list, polygon, indent: int) -> None:
    # compact_geojson.rs:41-72 write_polygon
    pad = " " * indent
    for i, ring in enumerate(polygon):
        out.append(f"{pad}[\n")
        for j, point in enumerate(ring):
            comma = "," if j < len(ring) - 1 else ""
            out.append(
                f"{pad}  [{format_js_number(point[0])}, "
                f"{format_js_number(point[1])}]{comma}\n"
            )
        out.append(f"{pad}],\n" if i < len(polygon) - 1 else f"{pad}]\n")


def _indent_block(indent: int, s: str) -> str:
    pad = " " * indent
    lines = s.split("\n")
    return "\n".join(line if i == 0 else pad + line for i, line in enumerate(lines))


def compact_feature_collection(features: list[dict]) -> str:
    """Byte-for-byte the reference's compact GeoJSON writer
    (tests/src/compact_geojson.rs:85-139): fixed indentation, JS-style
    numbers, geometry/properties/type key order, serde-pretty properties
    with sorted keys. Byte parity with the reference's committed fixture
    files is pinned by tests/test_plans_and_sources.py."""
    out: list[str] = ["{\n", "  \"features\": [\n"]
    for fi, feature in enumerate(features):
        geom = feature["geometry"]
        out.append("    {\n")
        out.append("      \"geometry\": {\n")
        out.append("        \"coordinates\": [\n")
        if geom["type"] == "Polygon":
            _compact_polygon(out, geom["coordinates"], 10)
        elif geom["type"] == "MultiPolygon":
            # compact_geojson.rs:75-83 write_multi_polygon
            polys = geom["coordinates"]
            for pi, poly in enumerate(polys):
                out.append("          [\n")
                _compact_polygon(out, poly, 12)
                out.append("          ],\n" if pi < len(polys) - 1 else "          ]\n")
        else:
            raise ValueError("feature must be Polygon or MultiPolygon")
        props = feature.get("properties")
        props_str = (
            "{}\n"
            if props is None
            else _indent_block(6, json.dumps(props, indent=2, sort_keys=True))
        )
        out.append("        ],\n")
        out.append(f"        \"type\": \"{geom['type']}\"\n")
        out.append("      },\n")
        out.append(f"      \"properties\": {props_str},\n")
        out.append("      \"type\": \"Feature\"\n")
        out.append("    },\n" if fi < len(features) - 1 else "    }\n")
    out.append("  ],\n")
    out.append("  \"type\": \"FeatureCollection\"\n")
    out.append("}\n")
    return "".join(out)


def write_feature_collection(
    rows, out_path: str, geom_col: str = "result_json", props_cols=("op",)
) -> int:
    """Collect result rows into ONE FeatureCollection file (fixture-style).

    For outputs that fit on the driver (goldens, reports). Large outputs
    should use parquet sinks. Round 3: emits the reference's compact
    JS-style byte format (compact_feature_collection) so outputs diff
    cleanly against the reference's fixture corpus.
    """
    collected = rows.collect()
    features = []
    for r in collected:
        geom = json.loads(r[geom_col])
        props = {c: r[c] for c in props_cols}
        features.append({"type": "Feature", "properties": props, "geometry": geom})
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        f.write(compact_feature_collection(features))
    return len(features)
