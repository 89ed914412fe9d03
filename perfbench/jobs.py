"""The Spark jobs the benchmark times, built only from public pipeline
functions.

- `fused_job`: one complete job from the input parquet to every output row,
  reduced in the JVM to a count, an order-independent digest and the rows
  of a seeded shadow sample (tracing off; this is what `job_s` times).
- `page_chain` / `clip_chain`: the same pipeline one public call at a time
  through `LayerRunner`, each layer reading the previous layer's output
  from parquet, with a span, status-store totals and Python-worker CPU per
  layer (the traced run).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from rust_geo_booleanop_spark.functions.cells import cell_id_expr, cell_size
from rust_geo_booleanop_spark.kernel.geojson import serialize_multipolygon
from rust_geo_booleanop_spark.operators.boolean_join import (
    apply_boolean_ops,
    pair_candidates,
)
from rust_geo_booleanop_spark.operators.extract import extract_geometries
from rust_geo_booleanop_spark.operators.tiling import (
    assign_tiles,
    clip_to_tiles,
    tile_square_json,
)

from .gen import CLIP_TILE_LEVEL, PAGE_TILE_LEVEL

EMPTY_JSON = serialize_multipolygon([])

_RESULT_COLS = ("case_id", "op", "result_json", "n_polys", "xmin", "ymin", "xmax", "ymax", "status")
_CLIP_COLS = ("url", "tile_id", "op", "clipped_json", "n_polys", "status")


def _digest(cols):
    """Order-independent digest: the exact sum of per-row 64-bit hashes."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string")


def page_pipeline(docs):
    """extract -> pairs -> boolean ops -> tiles, as one lazy plan."""
    return assign_tiles(
        apply_boolean_ops(pair_candidates(extract_geometries(docs))),
        level=PAGE_TILE_LEVEL,
    )


def clip_pipeline(geoms):
    return clip_to_tiles(assign_tiles(geoms, level=CLIP_TILE_LEVEL))


def _first_tile():
    """True on exactly one tile row per boolean result: the untiled row, or
    the tile holding the bbox's low corner."""
    size = cell_size(PAGE_TILE_LEVEL)
    low = cell_id_expr(
        F.floor(F.col("xmin") / size).cast("long"),
        F.floor(F.col("ymin") / size).cast("long"),
        PAGE_TILE_LEVEL,
    )
    return F.col("tile_id").isNull() | (F.col("tile_id") == low)


def fused_job(spark, workload: str, input_path: str, sample_keys) -> dict:
    """Run the workload's whole pipeline once; return its reduced outcome.

    On webpages `sample_keys` are case ids, for tile_clip they
    are "url#tile_id" strings."""
    src = spark.read.parquet(input_path)
    if workload == "tile_clip":
        out = clip_pipeline(src)
        key = F.concat_ws("#", "url", F.col("tile_id").cast("string"))
        row = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(F.lit(1)).alias("results"),
            F.sum((F.col("status") != "ok").cast("long")).alias("not_ok"),
            _digest(list(_CLIP_COLS)).alias("digest"),
            F.collect_list(
                F.when(key.isin(list(sample_keys)), F.struct(*_CLIP_COLS))
            ).alias("sample"),
        ).first()
    else:
        out = page_pipeline(src)
        first = _first_tile()
        row = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(first.cast("long")).alias("results"),
            F.sum((first & (F.col("status") != "ok")).cast("long")).alias("not_ok"),
            _digest(list(_RESULT_COLS) + ["subject_url", "clipping_url", "tile_id"]).alias(
                "digest"
            ),
            F.collect_list(
                F.when(
                    first & F.col("case_id").isin(list(sample_keys)),
                    F.struct(*_RESULT_COLS),
                )
            ).alias("sample"),
        ).first()
    return {
        "rows": row["rows"],
        "results": row["results"] or 0,
        "not_ok": row["not_ok"] or 0,
        "digest": row["digest"],
        "sample": [r.asDict() for r in row["sample"]],
    }


# Untimed jobs before any timed one. The first pipeline jobs in a fresh JVM
# run slower while the JIT compiles the hot paths and the heap grows to its
# working size; job times level off after about three.
WARMUP_JOBS = 3


def warm_up(spark, workload: str, input_path: str, gate) -> list[float]:
    """WARMUP_JOBS fused jobs, each checked by `gate` (the first one's
    shadow sample byte-exact); returns their wall seconds."""
    times = []
    for i in range(WARMUP_JOBS):
        t0 = time.perf_counter()
        outcome = fused_job(spark, workload, input_path, gate.sample_keys)
        times.append(time.perf_counter() - t0)
        gate.check_fused(outcome)
        if i == 0:
            gate.check_shadow(outcome["sample"])
    return times


class LayerRunner:
    """Times one public layer call at a time over materialized parquet."""

    def __init__(self, spark, work_dir, tracer, store, tree):
        self.spark = spark
        self.work_dir = work_dir
        self.tracer = tracer
        self.store = store
        self.tree = tree
        self.layers: dict[str, dict] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, f"{name}.parquet")

    def run(self, name: str, build, src_path: str) -> str:
        """Write `build(read(src_path))` to parquet under a span named
        `name`; record wall, stage totals and Python-worker CPU."""
        dst = self.path(name)
        stage0 = self.store.max_stage_id()
        cpu0 = self.tree.cpu_s()
        with self.tracer.span(name):
            t0 = time.perf_counter()
            build(self.spark.read.parquet(src_path)).write.mode("overwrite").parquet(dst)
            wall = time.perf_counter() - t0
        cpu1 = self.tree.cpu_s()
        self.layers[name] = {
            "wall_s": wall,
            "worker_cpu_s": cpu1["python"] - cpu0["python"],
            **self.store.summarize(stage0),
        }
        return dst


def page_chain(runner: LayerRunner, docs_path: str) -> dict:
    """extract -> pairs -> kernel stage -> tiles, one layer per parquet."""
    geoms = runner.run("extract", extract_geometries, docs_path)
    pairs = runner.run("pairs", pair_candidates, geoms)
    results = runner.run("kernel_stage", apply_boolean_ops, pairs)
    tiles = runner.run(
        "tiles", lambda df: assign_tiles(df, level=PAGE_TILE_LEVEL), results
    )
    return {"geoms": geoms, "pairs": pairs, "results": results, "tiles": tiles}


def clip_chain(runner: LayerRunner, input_path: str) -> dict:
    tiles = runner.run(
        "tiles", lambda df: assign_tiles(df, level=CLIP_TILE_LEVEL), input_path
    )
    clips = runner.run("clip", clip_to_tiles, tiles)
    return {"tiles": tiles, "clips": clips}


def page_layer_counts(spark, docs_path: str, paths: dict) -> dict:
    """Row counts of every layer's output, plus the extraction invariant:
    the `text` of every extracted url is byte-identical to its page's."""
    read = spark.read.parquet
    geoms = read(paths["geoms"])
    docs = read(docs_path).select("url", F.col("text").alias("page_text"))
    joined = geoms.join(docs, "url", "left")
    text = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("text").eqNullSafe(F.col("page_text"))).cast("long")).alias("bad"),
    ).first()
    results = read(paths["results"])
    tiles = read(paths["tiles"])
    n_geoms = geoms.count()
    return {
        "pages": read(docs_path).count(),
        "geoms": n_geoms,
        "text_mismatch": (text["bad"] or 0) + abs(text["n"] - n_geoms),
        "pairs": read(paths["pairs"]).count(),
        "results": results.count(),
        "not_ok": results.filter(F.col("status") != "ok").count(),
        "tiles": tiles.count(),
        "untiled": tiles.filter(F.col("tile_id").isNull()).count(),
    }


def clip_layer_counts(spark, input_path: str, paths: dict, tile_ids) -> dict:
    """Row counts of the tile and clip layers, and the share of clips whose
    output bytes are trivial: empty, the whole tile square, or the
    unchanged input geometry."""
    read = spark.read.parquet
    tiles = read(paths["tiles"])
    clips = read(paths["clips"])
    squares = spark.createDataFrame(
        [(t, tile_square_json(t)) for t in sorted(tile_ids)], "tile_id long, square string"
    )
    inputs = read(input_path).select(
        F.col("subject_url").alias("url"), F.col("result_json").alias("geom")
    )
    c = F.col("clipped_json")
    trivial = (c == F.lit(EMPTY_JSON)) | (c == F.col("square")) | (c == F.col("geom"))
    row = (
        clips.join(F.broadcast(squares), "tile_id", "left")
        .join(inputs, "url", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(trivial.cast("long")).alias("trivial"),
            F.sum((F.col("status") != "ok").cast("long")).alias("not_ok"),
        )
        .first()
    )
    return {
        "tiles": tiles.count(),
        "untiled": tiles.filter(F.col("tile_id").isNull()).count(),
        "clips": row["n"],
        "trivial": row["trivial"] or 0,
        "not_ok": row["not_ok"] or 0,
    }


def result_rows(spark, path: str, case_ids) -> list[dict]:
    """Materialized kernel-stage rows of the given cases."""
    df = spark.read.parquet(path).filter(F.col("case_id").isin(list(case_ids)))
    return [r.asDict() for r in df.select(*_RESULT_COLS).collect()]


def clip_rows(spark, path: str, keys) -> list[dict]:
    key = F.concat_ws("#", "url", F.col("tile_id").cast("string"))
    df = spark.read.parquet(path).filter(key.isin(list(keys)))
    return [r.asDict() for r in df.select(*_CLIP_COLS).collect()]
