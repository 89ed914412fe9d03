"""Common-Crawl-style documents table (the engine's source relation).

Schema (BASELINE input_hint):
    documents(url string, warc_ts timestamp, html binary, text string, lang string)

The table is synthesized deterministically: driver-provided parquet rows
(`/root/testdata/sf*/documents.parquet`) supply doc_id/text/lang; the html
payload embeds one corpus (Multi)Polygon as a
`<script type="application/geo+json">` block, like GeoJSON microdata on a
real page. Consecutive doc ids form (subject, clipping) pairs of one case.

The `text` column is copied through byte-identically — the per-row
invariant every downstream stage must preserve.

All construction is Arrow-batched (mapInPandas); no per-row Python at the
Spark row level beyond the vectorized batch loop.
"""

from __future__ import annotations

import datetime as _dt
import json
from typing import Iterator

import pandas as pd

from ..kernel.geojson import multipolygon_to_geometry
from .corpus import case_geometry

DOCUMENTS_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, html binary, text string, lang string"
)

_EPOCH = _dt.datetime(2024, 1, 1)

_HTML_HEAD = (
    '<html><head><meta charset="utf-8"><title>case {case} {role}</title></head><body>'
    '<script type="application/geo+json">{geojson}</script>'
)
_HTML_TAIL = "<p>{text}</p></body></html>"


def synth_url(doc_id: int) -> str:
    case_idx = doc_id // 2
    role = "subject" if doc_id % 2 == 0 else "clipping"
    return f"https://geo.example/case/{case_idx}/{role}"


def synth_html(doc_id: int, text: str) -> bytes:
    case_idx = doc_id // 2
    role_subject = doc_id % 2 == 0
    subject, clipping = case_geometry(case_idx)
    mp = subject if role_subject else clipping
    geojson = json.dumps(multipolygon_to_geometry(mp), separators=(",", ":"))
    head = _HTML_HEAD.format(case=case_idx, role="subject" if role_subject else "clipping", geojson=geojson)
    tail = _HTML_TAIL.format(text=text[:512])
    return (head + tail).encode("utf-8")


def _build_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        doc_ids = pdf["doc_id"].to_numpy()
        texts = pdf["text"].tolist()
        langs = pdf["lang"].tolist()
        urls = [synth_url(int(d)) for d in doc_ids]
        html = [synth_html(int(d), t if isinstance(t, str) else "") for d, t in zip(doc_ids, texts)]
        ts = [_EPOCH + _dt.timedelta(seconds=int(d)) for d in doc_ids]
        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "url": urls,
                "warc_ts": ts,
                "html": html,
                "text": texts,
                "lang": langs,
            }
        )


def build_documents(spark, sf_dir: str, replicate: int = 1):
    """documents DataFrame in input_hint schema (plus doc_id lineage column).

    Reads only the columns it needs from the driver parquet (column pruning
    reaches the scan) and synthesizes url/warc_ts/html per batch.

    `replicate > 1` fans each base row out into N distinct pages (disjoint
    case spaces via an even doc_id offset, so subject/clipping parity and
    pairing survive) — `scripts/job_boolean_tiling.py --replicate` uses it
    to scale the corpus deterministically.
    """
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text", "lang")
    if replicate > 1:
        from pyspark.sql import functions as F

        base = (
            base.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
            .withColumn(
                "doc_id", F.col("doc_id") + F.col("rep") * F.lit(10_000_000)
            )
            .drop("rep")
        )
    # A small table arrives as ONE scan partition; spread the (Python-side)
    # html synthesis across the cluster regardless of source file layout.
    base = base.repartition(max(spark.sparkContext.defaultParallelism, 8))
    return base.mapInPandas(_build_batches, schema=DOCUMENTS_SCHEMA)
