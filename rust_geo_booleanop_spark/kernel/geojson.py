"""GeoJSON (Multi)Polygon parsing/serialization for the kernel, and the
package's one geometry validity rule.

Mirrors the reference test harness conventions
(/root/reference/tests/src/helper.rs:108-151): a Polygon feature is wrapped
into a single-element MultiPolygon; rings are closed on conversion (geo's
`Polygon::new` semantics). Python's json parses numbers with correctly
rounded strtod, matching serde's arbitrary-precision-to-f64 behavior.

The rule is that of serde_json, the reference's GeoJSON reader.
`geometry_to_multipolygon` raises ValueError for a value that is not a
Polygon or MultiPolygon object, coordinates that do not nest as its type
needs, a position whose first two members are not JSON numbers (a bool
is none), or a coordinate not finite as a double (1e999, a 400-digit
integer); `parse_multipolygon` also for a bare NaN/Infinity/-Infinity
token anywhere in the text or nesting too deep for the decoder. Every
reader maps that one ValueError to its own degradation, and the C parser
accepts a subset of the rule and declines the rest to it.
"""

from __future__ import annotations

import glob
import json
import os
from math import isfinite
from typing import Any

# The reference's GeoJSON fixture corpus, read in place and never written:
# generic_test_cases/ holds the 45-case golden suite, benchmarks/ the
# criterion operands, and the root a few component-test inputs.
REFERENCE_FIXTURES = "/root/reference/tests/fixtures"

_ARRAY = (list, tuple)
_NUMBER = (int, float)  # type(True) is bool, not int


def _reject_constant(token):
    raise ValueError(f"non-finite number token {token} in GeoJSON text")


_DECODER = json.JSONDecoder(parse_constant=_reject_constant)


def _array(value, what: str):
    if type(value) not in _ARRAY:
        raise ValueError(f"{what} must be an array, got {type(value).__name__}")
    return value


def _position(p) -> tuple[float, float]:
    # RFC 7946 allows a third (altitude) member; the planar kernel ignores it
    if type(p) in _ARRAY and len(p) >= 2 and type(p[0]) in _NUMBER and type(p[1]) in _NUMBER:
        try:
            x, y = float(p[0]), float(p[1])
        except OverflowError:  # an integer past the double range
            x = y = float("inf")
        if isfinite(x) and isfinite(y):
            return x, y
    raise ValueError(f"position must start with two finite numbers, got {p!r:.80}")


def _close(ring):
    pts = [_position(p) for p in _array(ring, "ring")]
    if pts and pts[0] != pts[-1]:
        pts.append(pts[0])
    return pts


def geometry_to_multipolygon(geometry: dict[str, Any]):
    """GeoJSON geometry object -> multipolygon structure (list of ring
    lists); ValueError if the validity rule rejects it."""
    gtype = geometry.get("type") if isinstance(geometry, dict) else None
    if gtype == "Polygon":
        polys = [geometry.get("coordinates")]
    elif gtype == "MultiPolygon":
        polys = _array(geometry.get("coordinates"), "MultiPolygon coordinates")
    else:
        raise ValueError(f"geometry must be Polygon or MultiPolygon, got {geometry!r:.80}")
    return [[_close(ring) for ring in _array(poly, "polygon")] for poly in polys]


def parse_multipolygon(geojson_str: str):
    """GeoJSON geometry text -> multipolygon structure; ValueError if the
    validity rule rejects it."""
    try:
        geometry = _DECODER.decode(geojson_str)
    except RecursionError:
        raise ValueError("GeoJSON nests too deep for the decoder") from None
    return geometry_to_multipolygon(geometry)


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
