"""Geometry extraction from web pages (html binary -> GeoJSON + bbox).

The extraction stage parses the `<script type="application/geo+json">`
block out of the page bytes, computes the geometry's bounding box (the
pushdown-able spatial predicate columns), and carries `url`, case lineage,
and the untouched `text` column through.

Invariant (BASELINE input_hint): `text` is byte-identical per url across
this stage — extraction never rewrites it.

Runs as mapInPandas over Arrow batches; pattern matching is bytes-level
regex per batch (no JVM->Python per-row round trips).
"""

from __future__ import annotations

import re
import sys
from typing import Iterator

import pandas as pd

from ..kernel.pairs import resolve_bbox_fn

GEO_SCRIPT_RE = re.compile(rb'<script type="application/geo\+json">(.*?)</script>', re.S)
CASE_URL_RE = re.compile(r"/case/(\d+)/(subject|clipping)$")

GEOMETRIES_SCHEMA = (
    "url string, case_id long, role string, geom_json string, "
    "xmin double, ymin double, xmax double, ymax double, text string, lang string"
)


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # Resolved inside the Spark Python worker: C parse+bbox with the native
    # kernel, parse_multipolygon + multipolygon_bbox otherwise; same values.
    bbox_fn = resolve_bbox_fn()
    for pdf in batches:
        n_dirty = 0
        out = {c: [] for c in ("url", "case_id", "role", "geom_json", "xmin",
                               "ymin", "xmax", "ymax", "text", "lang")}
        for url, html, text, lang in zip(
            pdf["url"], pdf["html"], pdf["text"], pdf["lang"]
        ):
            if html is None:
                continue
            m = GEO_SCRIPT_RE.search(bytes(html))
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
            um = CASE_URL_RE.search(url)
            case_id = int(um.group(1)) if um else -1
            role = um.group(2) if um else "unknown"
            out["url"].append(url)
            out["case_id"].append(case_id)
            out["role"].append(role)
            out["geom_json"].append(geom_json)
            out["xmin"].append(xmin)
            out["ymin"].append(ymin)
            out["xmax"].append(xmax)
            out["ymax"].append(ymax)
            out["text"].append(text)
            out["lang"].append(lang)
        # Observability valve: a bbox_fn regression that rejected clean
        # geometry would drop every page SILENTLY. One executor-log line
        # per majority-dirty batch (never per row) makes it visible.
        if len(pdf) >= 16 and n_dirty * 2 >= len(pdf):
            print(
                f"extract_geometries: {n_dirty}/{len(pdf)} pages skipped as "
                "dirty in one batch - a near-100% skip rate usually means a "
                "bbox parser regression, not a dirty corpus",
                file=sys.stderr,
            )
        yield pd.DataFrame(out)


def extract_geometries(documents_df):
    """documents -> geometries(url, case_id, role, geom_json, bbox, text, lang)."""
    required = ("url", "html", "text", "lang")
    missing = [c for c in required if c not in documents_df.columns]
    if missing:
        # fail at plan time with a clear message — the batch fn indexes all
        # four columns, so a silent select-what-exists would only move the
        # failure into an executor KeyError
        raise ValueError(f"extract_geometries: missing document columns {missing}")
    return documents_df.select(*required).mapInPandas(
        _extract_batches, schema=GEOMETRIES_SCHEMA
    )
