"""Spatial joins over cell keys (the scale path for 100 TB inputs).

All joins follow the same two-phase shape:
  1. **Candidate generation** — both sides get grid-cell keys
     (functions/cells.py), candidates co-locate via a plain equi-join on
     cell_id (sort-merge by default; broadcast when one side is small).
     Catalyst/AQE handle partition coalescing and runtime skew; explicitly
     hot cells can additionally be salted (operators/skew.py).
  2. **Refinement** — cheap bbox predicate JVM-side, exact geometry test
     (kernel) only on surviving pairs, Arrow-batched.

Duplicate-candidate elimination uses the reference-point trick: a pair is
emitted only in the single cell that contains the LOWER-left corner of the
bbox intersection (greatest(l_xmin, r_xmin), greatest(l_ymin, r_ymin) —
the convention the g07 oracle pins) — no distinct/shuffle needed.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_id_expr, cell_index_expr, cell_size
from ..kernel.geojson import parse_multipolygon
from ..kernel.pip import MultiPolygonEdges, points_in_multipolygon_batch

DEFAULT_CELL_LEVEL = 4


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin a DataFrame to cluster parallelism before a CPU-heavy
    Python stage. Broadcast joins over single-file sources propagate ONE
    scan partition all the way down, silently serializing pandas-UDF
    stages; cost-per-row there dwarfs the small extra shuffle."""
    spark = df.sparkSession
    n = max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "64")),
        2 * spark.sparkContext.defaultParallelism,
    )
    return df.repartition(n)


def with_cover_cells(df: DataFrame, level: int = DEFAULT_CELL_LEVEL, prefix: str = "") -> DataFrame:
    """Explode bbox cover cells: one row per (row, covering cell).

    Pure JVM since round 4 (operators/tiling.py::cover_cells_column —
    values pinned equal to functions/cells.py::bbox_cover_cells): cell
    assignment is arithmetic on four doubles, exactly the kind of
    expression that belongs inside whole-stage codegen, not in an Arrow
    round-trip to a Python worker. A row whose bbox is outside the cell
    index range or over MAX_COVER_CELLS cells (functions/cells.py) has no
    cover and drops out."""
    from .tiling import cover_cells_column

    c = lambda name: F.col(f"{prefix}{name}")  # noqa: E731
    return df.withColumn(
        "cell_id",
        F.explode(
            cover_cells_column(c("xmin"), c("ymin"), c("xmax"), c("ymax"), level)
        ),
    )


def with_point_cells(points: DataFrame, level: int = DEFAULT_CELL_LEVEL, x="x", y="y") -> DataFrame:
    """Point -> cell id, pure JVM (same values as functions/cells.py::
    point_cells, pinned by the parity battery). A NaN, infinite or
    out-of-range coordinate gets a NULL cell_id and joins nothing."""
    cell = cell_id_expr(
        cell_index_expr(F.col(x), level), cell_index_expr(F.col(y), level), level
    )
    return points.withColumn("cell_id", cell)


def candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    level: int = DEFAULT_CELL_LEVEL,
    broadcast_right: bool = False,
) -> DataFrame:
    """Bbox-overlapping (left, right) pairs, deduplicated by reference point.

    Inputs need (url, geom_json, xmin..ymax) columns; outputs prefixed l_/r_.
    A row without a cover (bbox outside the cell index range or over
    MAX_COVER_CELLS cells, see `with_cover_cells`) takes no part.
    """
    l = with_cover_cells(left, level).select(
        F.col("cell_id"),
        *[F.col(c).alias(f"l_{c}") for c in ("url", "geom_json", "xmin", "ymin", "xmax", "ymax")],
    )
    r = with_cover_cells(right, level).select(
        F.col("cell_id"),
        *[F.col(c).alias(f"r_{c}") for c in ("url", "geom_json", "xmin", "ymin", "xmax", "ymax")],
    )
    if broadcast_right:
        r = F.broadcast(r)

    joined = l.join(r, on="cell_id").filter(
        (F.col("l_xmin") <= F.col("r_xmax"))
        & (F.col("r_xmin") <= F.col("l_xmax"))
        & (F.col("l_ymin") <= F.col("r_ymax"))
        & (F.col("r_ymin") <= F.col("l_ymax"))
    )

    # Reference-point dedup: keep the pair only in the cell that contains
    # the lower-left corner of the bbox intersection.
    ref_cell = cell_id_expr(
        cell_index_expr(F.greatest("l_xmin", "r_xmin"), level),
        cell_index_expr(F.greatest("l_ymin", "r_ymin"), level),
        level,
    )
    return joined.filter(F.col("cell_id") == ref_cell)


_PIP_SCHEMA_SUFFIX = "point_id long, x double, y double, zone_key string"


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    level: int = DEFAULT_CELL_LEVEL,
    broadcast_polygons: bool = True,
    carry_cols: tuple = (),
) -> DataFrame:
    """points(point_id, x, y) ⨝ polygons(zone_key, geom_json, xmin..ymax).

    Returns (point_id, x, y, [carry_cols...,] zone_key) rows where the
    point is inside (or on the boundary of) the zone geometry. Candidates
    by cell equi-join + bbox refine JVM-side; the exact kernel PIP test
    runs Arrow-batched with a per-batch parsed-geometry cache.
    `carry_cols` travel through the join so callers (e.g. zonal stats)
    don't need a second join back to the points table to recover payload
    columns.

    A zone geometry the validity rule of kernel/geojson.py rejects (or a
    NULL one) matches no point, as a zone without a cover takes no part;
    it never fails the task.
    """
    pts = with_point_cells(points, level)
    polys = with_cover_cells(polygons, level).select(
        "cell_id", "zone_key", "geom_json", "xmin", "ymin", "xmax", "ymax"
    )
    if broadcast_polygons:
        polys = F.broadcast(polys)

    out_cols = ["point_id", "x", "y", *carry_cols, "zone_key"]
    cand = pts.join(polys, on="cell_id").filter(
        (F.col("x") >= F.col("xmin"))
        & (F.col("x") <= F.col("xmax"))
        & (F.col("y") >= F.col("ymin"))
        & (F.col("y") <= F.col("ymax"))
    ).select(*out_cols, "geom_json")
    cand = ensure_parallelism(cand)

    schema = _PIP_SCHEMA_SUFFIX
    if carry_cols:
        carried = ", ".join(
            f"{c} {points.schema[c].dataType.simpleString()}" for c in carry_cols
        )
        schema = f"point_id long, x double, y double, {carried}, zone_key string"

    def pip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-geometry precomputed edge arrays, cached across batches; the
        # exact test runs VECTORIZED over all of a geometry's candidate
        # points at once (one NumPy ray-cast per (geometry, batch) instead
        # of a Python loop per point — the per-row interpreter cost was the
        # dominant spatial-join term at scale).
        geom_cache: dict[str, MultiPolygonEdges | None] = {}
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[out_cols]
                continue
            xs = pdf["x"].to_numpy(np.float64)
            ys = pdf["y"].to_numpy(np.float64)
            keep = np.zeros(len(pdf), dtype=bool)
            for gj, idx in pdf.groupby("geom_json", sort=False).indices.items():
                if gj not in geom_cache:
                    try:
                        geom_cache[gj] = MultiPolygonEdges(parse_multipolygon(gj))
                    except ValueError:
                        geom_cache[gj] = None  # rejected zone: matches nothing
                edges = geom_cache[gj]
                if edges is not None:
                    keep[idx] = points_in_multipolygon_batch(xs[idx], ys[idx], edges=edges)
            yield pdf.iloc[np.flatnonzero(keep)][out_cols]

    return cand.mapInPandas(pip_batches, schema=schema)


def knn_join(points: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """For each query(query_id, qx, qy): the k nearest points by squared
    euclidean distance (ties broken by point_id).

    Broadcast the (small) query side; the big point table is scanned once,
    distance is computed JVM-side, and per-query top-k goes through one
    shuffle on query_id (window row_number). The cell-ring expansion
    variant for huge query sets would bucket both sides by cell instead.
    """
    from pyspark.sql.window import Window

    crossed = points.crossJoin(F.broadcast(queries))
    # plain multiplications (not pow) so the arithmetic is bit-identical
    # to the SQL oracle's (a-b)*(a-b) form
    dx = F.col("x") - F.col("qx")
    dy = F.col("y") - F.col("qy")
    dist = dx * dx + dy * dy
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("point_id"))
    return (
        crossed.withColumn("dist", dist)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "point_id", "x", "y", "dist", "rank")
    )


def knn_join_bucketed(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    level: int = DEFAULT_CELL_LEVEL,
    ring: int = 1,
) -> DataFrame:
    """kNN for LARGE query sets: cell-bucketed candidates + exact fallback.

    `knn_join` broadcasts the queries and scans every point against every
    query — right for a handful of queries, quadratic for millions. Here
    both sides bucket by grid cell: each query probes its cell plus the
    ring-`ring` neighborhood ((2r+1)^2 cells, built JVM-side), candidates
    come from ONE equi-join on cell_id, and per-query top-k is a window.

    Exactness: any point outside the probed block is farther than
    ring*cell_size from the query (the query sits in the center cell), so
    candidates with dist < (ring*cell_size)^2 are provably closer than
    every unprobed point (strict bound also kills boundary-tie ambiguity).
    Queries with fewer than k such candidates fall back to the exact
    broadcast scan — results are identical to `knn_join` for every query.
    So do queries whose probed block leaves the cell index range (a NULL
    probe cell): a point there has no cell (`with_point_cells`) and would
    be missed by the bucket join.
    """
    from pyspark.sql.window import Window

    size = cell_size(level)
    guard_sq = (ring * size) * (ring * size)

    pts = with_point_cells(points.select("point_id", "x", "y"), level)
    qix, qiy = cell_index_expr(F.col("qx"), level), cell_index_expr(F.col("qy"), level)
    neighbor_cells = F.array(
        *[
            cell_id_expr(qix + dx, qiy + dy, level)
            for dx in range(-ring, ring + 1)
            for dy in range(-ring, ring + 1)
        ]
    )
    q_probed = queries.filter(
        F.forall(neighbor_cells, lambda c: c.isNotNull())
    ).select("query_id", "qx", "qy", F.explode(neighbor_cells).alias("cell_id"))

    dx = F.col("x") - F.col("qx")
    dy = F.col("y") - F.col("qy")
    dist = dx * dx + dy * dy
    qualified = (
        pts.join(q_probed, on="cell_id")
        .withColumn("dist", dist)
        .filter(F.col("dist") < F.lit(guard_sq))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("point_id"))
    ranked = qualified.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    counts = qualified.groupBy("query_id").agg(F.count("*").alias("n_cand"))
    satisfied = counts.filter(F.col("n_cand") >= k).select("query_id")
    exact_part = ranked.join(satisfied, on="query_id", how="left_semi").select(
        "query_id", "point_id", "x", "y", "dist", "rank"
    )
    sparse_queries = queries.join(satisfied, on="query_id", how="left_anti")
    fallback = knn_join(points.select("point_id", "x", "y"), sparse_queries, k)
    return exact_part.unionByName(fallback)


def zonal_stats_join(
    points: DataFrame,
    zones: DataFrame,
    value_col: str = "value",
    level: int = DEFAULT_CELL_LEVEL,
) -> DataFrame:
    """Raster→vector zonal statistics: PIP-join pixels/points into zones,
    then aggregate per zone (count, sum, avg, min, max). The value column
    rides through the PIP join (`carry_cols`) — no second join back to the
    points table."""
    withv = point_in_polygon_join(
        points.select("point_id", "x", "y", value_col),
        zones,
        level,
        carry_cols=(value_col,),
    )
    return withv.groupBy("zone_key").agg(
        F.count("*").alias("n_points"),
        F.sum(value_col).alias("sum_value"),
        F.avg(value_col).alias("avg_value"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
