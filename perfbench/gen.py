"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size). The program under
test only ever sees the generated parquet rows; the generator also returns
the exact counts the correctness gate checks against and the in-process
copies of the rows the single-core ceilings loop over.

Shapes come from the package's public generators: the 64 `sources.corpus`
templates plus its heavy 12x12-grid template.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from rust_geo_booleanop_spark.functions.cells import bbox_cover_cells
from rust_geo_booleanop_spark.kernel.geojson import multipolygon_bbox, multipolygon_to_geometry
from rust_geo_booleanop_spark.sources import corpus

OPS = ("intersection", "union", "diff", "xor")
PAGE_TILE_LEVEL = 4  # assign_tiles default on webpages
CLIP_TILE_LEVEL = 6  # 64-unit tiles on tile_clip

DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

RESULTS_SCHEMA = pa.schema([
    ("case_id", pa.int64()),
    ("subject_url", pa.string()),
    ("clipping_url", pa.string()),
    ("op", pa.string()),
    ("result_json", pa.string()),
    ("n_polys", pa.int32()),
    ("xmin", pa.float64()),
    ("ymin", pa.float64()),
    ("xmax", pa.float64()),
    ("ymax", pa.float64()),
    ("status", pa.string()),
])

# Default sizes, chosen so one fused job takes a few seconds on 4 cores.
SIZES = {"webpages": 4000, "tile_clip": 8000}

_EPOCH = _dt.datetime(2024, 1, 1)
# Page text follows the measured distribution of the `text` and `lang`
# columns of the repository's sf0.1 test documents (5000 rows): 10-100 words
# per page, uniform, drawn uniformly from a 30-word ASCII vocabulary; 5% of
# pages end in the word "dup"; 44-577 characters (median 295, mean 297).
# Languages: en 41%, zh 15%, es 15%, fr 15%, de 14%.
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_WORDS_MIN, _WORDS_MAX = 10, 100
_DUP_SHARE = 0.05
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_WEIGHTS = (2059, 753, 744, 742, 702)

_HTML_HEAD = (
    '<html><head><meta charset="utf-8"><title>{title}</title></head><body>'
)
_GEO_BLOCK = '<script type="application/geo+json">{geojson}</script>'
_HTML_TAIL = "<p>{text}</p></body></html>"


@dataclass
class Pair:
    """One clean (subject, clipping) case, as the kernel stage sees it."""

    case_id: int
    subject_url: str
    clipping_url: str
    subject_json: str
    clipping_json: str


@dataclass
class Clip:
    """One (geometry, tile) clip of the tile_clip workload."""

    url: str
    op: str
    geom_json: str
    tile_id: int


@dataclass
class Inputs:
    workload: str
    seed: int
    table: pa.Table
    expected: dict
    pages: list = field(default_factory=list)  # (url, html, text) per page
    pairs: list = field(default_factory=list)  # clean Pair rows
    clips: list = field(default_factory=list)  # Clip rows

    def write(self, path: str, n_files: int) -> None:
        """Write the rows as `n_files` parquet files under directory `path`,
        like a dataset written by a parallel job."""
        os.makedirs(path, exist_ok=True)
        for name in os.listdir(path):
            os.remove(os.path.join(path, name))
        n = self.table.num_rows
        for i in range(n_files):
            lo, hi = n * i // n_files, n * (i + 1) // n_files
            pq.write_table(self.table.slice(lo, hi - lo), os.path.join(path, f"part-{i:05d}.parquet"))


def geometry_json(mp) -> str:
    return json.dumps(multipolygon_to_geometry(mp), separators=(",", ":"))


def _place(mp, dx, dy):
    return [
        [[(x + dx, y + dy) for (x, y) in ring] for ring in poly]
        for poly in mp
    ]


def _texts(rng: random.Random, n: int) -> list[str]:
    """`n` page texts drawn from the measured text distribution."""
    out = []
    for _ in range(n):
        words = rng.choices(_WORDS, k=rng.randint(_WORDS_MIN, _WORDS_MAX))
        if rng.random() < _DUP_SHARE:
            words[-1] = "dup"
        out.append(" ".join(words))
    return out


def _page_html(title: str, geojson: str | None, text: str) -> bytes:
    block = "" if geojson is None else _GEO_BLOCK.format(geojson=geojson)
    return (
        _HTML_HEAD.format(title=title) + block + _HTML_TAIL.format(text=text[:512])
    ).encode("utf-8")


def _dirty(geojson: str, rng: random.Random) -> str:
    """A malformed geo+json block: truncated JSON or a bare NaN token."""
    if rng.random() < 0.5:
        return geojson[: rng.randrange(1, len(geojson) - 1)]
    return geojson.replace("[[[[", "[[[[NaN,0.0],", 1)


def _documents(rng, cases, n_nogeo, dirty_share):
    """Pages for `cases` [(case_id, subject_mp, clipping_mp)], plus
    `n_nogeo` pages with no geo+json block; a `dirty_share` of case pages
    carries a malformed block. Returns (Inputs fields)."""
    pages = []  # (url, html, text)
    pairs = []
    n_dirty = round(dirty_share * 2 * len(cases))
    dirty = set(rng.sample(range(2 * len(cases)), n_dirty))
    texts = iter(_texts(rng, 2 * len(cases) + n_nogeo))
    for i, (case_id, subject, clipping) in enumerate(cases):
        jsons = {}
        clean = True
        for j, (role, mp) in enumerate((("subject", subject), ("clipping", clipping))):
            url = f"https://geo.example/case/{case_id}/{role}"
            gj = geometry_json(mp)
            jsons[role] = (url, gj)
            if 2 * i + j in dirty:
                gj = _dirty(gj, rng)
                clean = False
            text = next(texts)
            pages.append((url, _page_html(f"case {case_id} {role}", gj, text), text))
        if clean:
            (s_url, s_json), (c_url, c_json) = jsons["subject"], jsons["clipping"]
            pairs.append(Pair(case_id, s_url, c_url, s_json, c_json))
    for i in range(n_nogeo):
        text = next(texts)
        url = f"https://geo.example/page/{i}"
        pages.append((url, _page_html(f"page {i}", None, text), text))
    rng.shuffle(pages)
    table = pa.Table.from_pydict(
        {
            "doc_id": list(range(len(pages))),
            "url": [p[0] for p in pages],
            "warc_ts": [_EPOCH + _dt.timedelta(seconds=i) for i in range(len(pages))],
            "html": [p[1] for p in pages],
            "text": [p[2] for p in pages],
            "lang": rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=len(pages)),
        },
        schema=DOCUMENTS_SCHEMA,
    )
    expected = {
        "pages": len(pages),
        "dirty_pages": n_dirty,
        "nogeo_pages": n_nogeo,
        "geoms": len(pages) - n_dirty - n_nogeo,
        "dropped": n_dirty + n_nogeo,
        "pairs": len(pairs),
        "results": len(pairs) * len(OPS),
        "rows": len(pages),
    }
    return table, expected, pages, pairs


def _templates(rng: random.Random, n: int) -> list:
    """`n` seeded corpus (subject, clipping) templates. As in the corpus,
    every HEAVY_EVERY-th case is the heavy template (from a seeded phase),
    so every seed, and every slice of the rows, carries the same share of
    heavy work."""
    phase = rng.randrange(corpus.HEAVY_EVERY)
    return [
        corpus.heavy_template() if (i + phase) % corpus.HEAVY_EVERY == 0
        else corpus.case_template(rng.randrange(corpus.CORPUS_SIZE))
        for i in range(n)
    ]


def webpages(seed: int, n_cases: int) -> Inputs:
    """Crawl-like pages: one seeded corpus template per case (the heavy
    template in 1 case of 61), n_cases / 10 more pages without geometry,
    1% of case pages with a malformed block."""
    rng = random.Random(f"webpages:{seed}")
    cases = []
    for case_id, (subject, clipping) in enumerate(_templates(rng, n_cases)):
        dx, dy = corpus.case_offset(case_id)
        cases.append((case_id, _place(subject, dx, dy), _place(clipping, dx, dy)))
    table, expected, pages, pairs = _documents(
        rng, cases, n_nogeo=n_cases // 10, dirty_share=0.01
    )
    return Inputs("webpages", seed, table, expected, pages, pairs)


def tile_clip(seed: int, n_geoms: int) -> Inputs:
    """Corpus geometries in the boolean-results schema, each shifted by a
    seeded sub-tile offset so they straddle level-6 (64-unit) tile edges."""
    rng = random.Random(f"tile_clip:{seed}")
    cols = {name: [] for name in RESULTS_SCHEMA.names}
    clips = []
    for case_id, pair in enumerate(_templates(rng, n_geoms)):
        role = rng.randrange(2)
        dx, dy = corpus.case_offset(case_id)
        mp = _place(pair[role], dx + rng.uniform(0, 64), dy + rng.uniform(0, 64))
        gj = geometry_json(mp)
        xmin, ymin, xmax, ymax = multipolygon_bbox(mp)
        url = f"https://geo.example/case/{case_id}/{('subject', 'clipping')[role]}"
        op = rng.choice(OPS)
        for name, value in (
            ("case_id", case_id), ("subject_url", url), ("clipping_url", url),
            ("op", op), ("result_json", gj), ("n_polys", len(mp)),
            ("xmin", xmin), ("ymin", ymin), ("xmax", xmax), ("ymax", ymax),
            ("status", "ok"),
        ):
            cols[name].append(value)
        for tid in bbox_cover_cells(xmin, ymin, xmax, ymax, CLIP_TILE_LEVEL):
            clips.append(Clip(url, op, gj, tid))
    table = pa.Table.from_pydict(cols, schema=RESULTS_SCHEMA)
    expected = {"geoms": n_geoms, "clips": len(clips), "rows": n_geoms}
    return Inputs("tile_clip", seed, table, expected, clips=clips)


GENERATORS = {"webpages": webpages, "tile_clip": tile_clip}


def generate(workload: str, seed: int, size: int | None = None) -> Inputs:
    return GENERATORS[workload](seed, SIZES[workload] if size is None else size)

