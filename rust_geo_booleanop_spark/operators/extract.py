"""Geometry extraction from web pages (html binary -> GeoJSON + bbox).

The extraction stage parses the `<script type="application/geo+json">`
block out of the page bytes, computes the geometry's bounding box (the
pushdown-able spatial predicate columns), and carries `url`, case lineage,
and the untouched `text` column through.

Invariant (BASELINE input_hint): `text` is byte-identical per url across
this stage — extraction never rewrites it.

Runs on the one Arrow stage (operators/boolean_join.py::arrow_stage);
pattern matching is bytes-level regex per batch (no JVM->Python per-row
round trips).
"""

from __future__ import annotations

import re
import sys

import pyarrow as pa
from pyspark.sql.types import StructType

from ..kernel.pairs import resolve_bbox_fn
from .boolean_join import arrow_stage

GEO_SCRIPT_RE = re.compile(rb'<script type="application/geo\+json">(.*?)</script>', re.S)
CASE_URL_RE = re.compile(r"/case/(\d+)/(subject|clipping)$")

# the extraction payload; `text` and `lang` are carried
_PAYLOAD_SCHEMA = (
    "url string, case_id long, role string, geom_json string, "
    "xmin double, ymin double, xmax double, ymax double"
)
GEOMETRIES_SCHEMA = _PAYLOAD_SCHEMA + ", text string, lang string"


def _extract_fn():
    # Resolved inside the Spark Python worker: C parse+bbox with the native
    # kernel, parse_multipolygon + multipolygon_bbox otherwise; same values.
    bbox_fn = resolve_bbox_fn()

    def extract(urls, htmls):
        kept, rows, n_dirty = [], [], 0
        for i, (url, html) in enumerate(zip(urls.to_pylist(), htmls.to_pylist())):
            if html is None:
                continue
            m = GEO_SCRIPT_RE.search(html)
            if not m:
                continue  # page without geometry: filtered out here
            # Dirty-web tolerance: a page whose geo+json block is mojibake
            # (UnicodeDecodeError) or a geometry the validity rule of
            # kernel/geojson.py rejects (ValueError) is filtered like a
            # page without one; it must not fail the task.
            try:
                geom_json = m.group(1).decode("utf-8")
                xmin, ymin, xmax, ymax = bbox_fn(geom_json)
            except ValueError:
                n_dirty += 1
                continue
            if not (xmin <= xmax and ymin <= ymax):
                continue  # empty geometry: the inverted-infinities bbox
            um = CASE_URL_RE.search(url or "")
            case_id = int(um.group(1)) if um else -1
            role = um.group(2) if um else "unknown"
            kept.append(i)
            rows.append((case_id, role, geom_json, xmin, ymin, xmax, ymax))
        # Observability valve: a bbox_fn regression that rejected clean
        # geometry would drop every page SILENTLY. One executor-log line
        # per majority-dirty batch (never per row) makes it visible.
        if len(urls) >= 16 and n_dirty * 2 >= len(urls):
            print(
                f"extract_geometries: {n_dirty}/{len(urls)} pages skipped as "
                "dirty in one batch - a near-100% skip rate usually means a "
                "bbox parser regression, not a dirty corpus",
                file=sys.stderr,
            )
        url = urls.take(pa.array(kept, type=pa.int64()))
        return kept, [url] + (list(zip(*rows)) or [()] * 7)

    return extract


def extract_geometries(documents_df):
    """documents -> geometries(url, case_id, role, geom_json, bbox, text, lang).

    One `arrow_stage` over the kept pages: `text` and `lang` are carried
    by Arrow take, never turned into Python strings."""
    required = ("url", "html", "text", "lang")
    missing = [c for c in required if c not in documents_df.columns]
    if missing:
        # fail at plan time with a clear message — the batch fn reads all
        # four columns, so a silent select-what-exists would only move the
        # failure into an executor error
        raise ValueError(f"extract_geometries: missing document columns {missing}")
    geoms = arrow_stage(
        documents_df, ["url", "html"], ["text", "lang"], _extract_fn, _PAYLOAD_SCHEMA
    )
    return geoms.select(*StructType.fromDDL(GEOMETRIES_SCHEMA).fieldNames())
