"""GeoJSON (Multi)Polygon parsing/serialization for the kernel.

Mirrors the reference test harness conventions
(/root/reference/tests/src/helper.rs:108-151): a Polygon feature is wrapped
into a single-element MultiPolygon; rings are closed on conversion (geo's
`Polygon::new` semantics). Python's json parses numbers with correctly
rounded strtod, matching serde's arbitrary-precision-to-f64 behavior.
"""

from __future__ import annotations

import glob
import json
import os
from typing import Any

# The reference's GeoJSON fixture corpus, read in place and never written:
# generic_test_cases/ holds the 45-case golden suite, benchmarks/ the
# criterion operands, and the root a few component-test inputs.
REFERENCE_FIXTURES = "/root/reference/tests/fixtures"


def _close(ring):
    # position[0:2] only: RFC 7946 allows a third (altitude) element,
    # which the planar kernel ignores rather than crashing the parse
    pts = [(float(p[0]), float(p[1])) for p in ring]
    if pts and pts[0] != pts[-1]:
        pts.append(pts[0])
    return pts


def geometry_to_multipolygon(geometry: dict[str, Any]):
    """GeoJSON geometry dict -> multipolygon structure (list of ring lists)."""
    gtype = geometry.get("type")
    coords = geometry.get("coordinates")
    if gtype == "Polygon":
        return [[_close(ring) for ring in coords]]
    if gtype == "MultiPolygon":
        return [[_close(ring) for ring in poly] for poly in coords]
    raise ValueError(f"geometry must be Polygon or MultiPolygon, got {gtype}")


def parse_multipolygon(geojson_str: str):
    """GeoJSON geometry string -> multipolygon structure."""
    return geometry_to_multipolygon(json.loads(geojson_str))


def multipolygon_to_geometry(mp) -> dict[str, Any]:
    return {
        "type": "MultiPolygon",
        "coordinates": [[[[x, y] for (x, y) in ring] for ring in poly] for poly in mp],
    }


def serialize_multipolygon(mp) -> str:
    # json's C encoder walks tuples as arrays, so the kernel's native
    # (x, y)-tuple rings serialize without the multipolygon_to_geometry
    # list rebuild — byte-identical output, ~1.5x faster (it was the
    # single biggest term of the post-native-kernel boolean-op stage).
    return json.dumps(
        {"type": "MultiPolygon", "coordinates": mp}, separators=(",", ":")
    )


def load_fixture(path: str):
    """Load a reference-style fixture FeatureCollection.

    Returns (subject, clipping, expected) where expected is a list of
    (op, multipolygon, swap_ab_is_broken) for features[2..].
    """
    with open(path) as f:
        fc = json.load(f)
    features = fc["features"]
    subject = geometry_to_multipolygon(features[0]["geometry"])
    clipping = geometry_to_multipolygon(features[1]["geometry"])
    expected = []
    for feat in features[2:]:
        props = feat.get("properties") or {}
        op = props["operation"]
        swap_broken = bool(props.get("swap_ab_is_broken", False))
        expected.append((op, geometry_to_multipolygon(feat["geometry"]), swap_broken))
    return subject, clipping, expected


def reference_case_files() -> list[str]:
    """The 45 golden-suite files (generic_test_cases/*.geojson), sorted.

    Raises FileNotFoundError naming REFERENCE_FIXTURES when the corpus is
    absent or incomplete, so every reader fails (or skips) with the same
    message instead of passing over an empty list.
    """
    cases_dir = os.path.join(REFERENCE_FIXTURES, "generic_test_cases")
    files = sorted(glob.glob(os.path.join(cases_dir, "*.geojson")))
    if len(files) != 45:
        raise FileNotFoundError(
            f"reference corpus absent or incomplete: {len(files)} of 45 "
            f"*.geojson cases in {cases_dir}"
        )
    return files


def multipolygon_bbox(mp):
    """(xmin, ymin, xmax, ymax) over all rings."""
    inf = float("inf")
    xmin = ymin = inf
    xmax = ymax = -inf
    for poly in mp:
        for ring in poly:
            for x, y in ring:
                if x < xmin:
                    xmin = x
                if y < ymin:
                    ymin = y
                if x > xmax:
                    xmax = x
                if y > ymax:
                    ymax = y
    return xmin, ymin, xmax, ymax
