"""Tile assignment and clipping of result geometries.

Every boolean-op result (or any geometry row with a bbox) is assigned to
the grid cells ("tiles") its bbox covers; optionally each geometry is
clipped to its tile square with the kernel's intersection op — the same
code path the fixture suite verifies.

Plan shape (round 4): the covering-cell array is a pure JVM column
expression (`cover_cells_column`: sequence/transform/flatten + bit-shift
encode inside whole-stage codegen) followed by a JVM explode — tile
assignment costs zero Python worker round-trips; only the kernel clip
runs in Python workers over Arrow batches, through the shared kernel
stage `boolean_join.kernel_map` with the tile square as a JVM-computed
rectangle operand.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..functions.cells import cell_bounds, cell_bounds_expr
from ..kernel.pairs import bbox_square_json
from .boolean_join import kernel_map

DEFAULT_TILE_LEVEL = 4


def cover_cells_column(xmin, ymin, xmax, ymax, level: int):
    """Covering-cell array as a pure JVM column expression.

    Same values as functions/cells.py::bbox_cover_cells (pinned by
    tests/test_spatial_joins.py::TestCells's parity battery): the four
    cell indices and the encode come from the cells.py Column twins, and
    the ix x iy product is sequence+transform+flatten — so tile
    assignment costs no Python worker round-trip at all. A NaN, infinite,
    inverted or out-of-range bbox, or one over MAX_COVER_CELLS cells,
    yields an EMPTY array (the guard fails), matching the python
    helper's [] for degraded rows."""
    from ..functions.cells import MAX_COVER_CELLS, cell_id_expr, cell_index_expr

    ix0, iy0, ix1, iy1 = (cell_index_expr(c, level) for c in (xmin, ymin, xmax, ymax))
    cells = F.flatten(
        F.transform(
            F.sequence(ix0, ix1),
            lambda ix: F.transform(
                F.sequence(iy0, iy1),
                lambda iy: cell_id_expr(ix, iy, level),
            ),
        )
    )
    # NULL (not true) when any index is NULL, so the guard also requires
    # all four bounds in range before F.sequence runs.
    n_cells = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    valid = (xmin <= xmax) & (ymin <= ymax) & (n_cells <= MAX_COVER_CELLS)
    return F.when(valid, cells).otherwise(F.array().cast(ArrayType(LongType())))


def assign_tiles(results: DataFrame, level: int = DEFAULT_TILE_LEVEL) -> DataFrame:
    """Add tile_id (exploded): one output row per (row, covering tile)."""
    with_cells = results.withColumn(
        "tile_ids",
        cover_cells_column(
            F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), level
        ),
    )
    # explode_outer, not explode: empty-result and status='limit_exceeded'
    # rows (NaN bbox) and far-away or over-cap bboxes have no covering
    # tiles, and must survive (with NULL tile_id) so the degraded-row
    # accounting is observable downstream
    return with_cells.withColumn("tile_id", F.explode_outer("tile_ids")).drop("tile_ids")


def tile_pyramid(
    tiled: DataFrame, from_level: int = DEFAULT_TILE_LEVEL, to_level: int = 0
) -> DataFrame:
    """Roll tile rows up the zoom pyramid: (level, tile_id, n_rows) for
    every level in [to_level, from_level] — the tile-server aggregation
    (how many clipped geometries land in each tile at each zoom).

    Pure JVM and ONE shuffle: the per-level parent chain is an array
    expression (decode ix/iy with shifts, re-encode at each coarser
    level — parent = index >> (from_level - level), like S2 cell
    parents), exploded and hash-aggregated with map-side partials.
    Rows with NULL tile_id (degraded upstream) are excluded.
    """
    if to_level > from_level:
        raise ValueError("to_level must be <= from_level")
    from ..functions.cells import cell_id_expr, decode_cell_expr

    _, ix, iy = decode_cell_expr(F.col("tile_id"))
    # levels are plan-time constants: unroll the parent array in Python so
    # each shift amount is a literal (arithmetic shiftright == the floor
    # semantics of functions/cells.py::parent_cell, incl. negative indices)
    parents = F.array(
        *[
            F.struct(
                F.lit(lv).cast("int").alias("level"),
                cell_id_expr(
                    F.shiftright(ix, from_level - lv),
                    F.shiftright(iy, from_level - lv),
                    lv,
                ).alias("tile_id"),
            )
            for lv in range(to_level, from_level + 1)
        ]
    )
    return (
        tiled.filter(F.col("tile_id").isNotNull())
        .select(F.explode(parents).alias("p"))
        .groupBy(F.col("p.level").alias("level"), F.col("p.tile_id").alias("tile_id"))
        .agg(F.count("*").alias("n_rows"))
    )


def tile_square_json(tid: int) -> str:
    """Serialized 1-polygon multipolygon of a tile's square — the operand
    `clip_to_tiles` builds from `cell_bounds_expr`. Shared with the g03
    oracle-fixture generator (scripts/gen_geo_oracle_fixtures.py)."""
    return bbox_square_json(*cell_bounds(tid))


def clip_to_tiles(tiled: DataFrame, geom_col: str = "result_json", url_col: str = "subject_url") -> DataFrame:
    """Clip each geometry to its assigned tile square (kernel intersection).

    A row with NULL tile_id (empty / limit_exceeded upstream) makes no
    kernel call and passes through as status 'untiled'; a degenerate
    re-ingested geometry degrades its row, never the stage. Rows whose
    status is not 'ok' keep clipped_json '' and n_polys 0."""
    prepared = tiled.select(
        "tile_id",
        F.col(url_col).alias("url"),
        F.col("op").alias("source_op"),
        F.col(geom_col).alias("geom_json"),
    )
    clipped = kernel_map(
        prepared, "geom_json", cell_bounds_expr(F.col("tile_id")), ("intersection",),
        carry=("tile_id", "url", "source_op"),
    )
    ok = F.col("status") == "ok"
    return clipped.select(
        "tile_id",
        "url",
        F.col("source_op").alias("op"),
        F.when(ok, F.col("result_json")).otherwise("").alias("clipped_json"),
        F.when(ok, F.col("n_polys")).otherwise(0).alias("n_polys"),
        F.when(F.col("tile_id").isNull(), "untiled").otherwise(F.col("status")).alias("status"),
    )


# Normalization pads the bbox rectangle: kernel-normalize each geometry by
# intersecting it with a rectangle STRICTLY larger than its bbox, so
# self-overlaps dissolve to even-odd semantics and holes land in their
# structural [exterior, holes...] slots. The pad is essential — a
# rectangle exactly equal to the bbox shares boundary with the geometry's
# extreme edges (the Martinez degenerate edge-overlap class: a
# bbox-tangent holed rectangle comes back with its hole as a separate
# exterior polygon). Padded edges lie strictly outside the bbox, so no
# geometry point can touch them — clean containment clipping.
_NORMALIZE_PAD = 1.0


def tile_area_weights(
    geoms: DataFrame, level: int = DEFAULT_TILE_LEVEL
) -> DataFrame:
    """Area-weighted tile apportionment (areal interpolation): for each
    geometry, the fraction of its area falling in each covering tile —
    the standard GIS primitive for transferring a zone-level value
    (population, counts, page statistics) onto a regular grid:
    apportioned = value * weight, sum(weight per case) == 1 for fully
    covered geometries.

    Input needs (case_id, geom_json, xmin, ymin, xmax, ymax) — the
    extraction schema. Output, one row per (case, covering tile) with
    clip status ok: (case_id, tile_id, clip_area, geom_area, weight)
    where both areas are the JVM structural region-area fold
    (measures.region_area_column: |exterior| minus |holes| by ring
    position — sign-based folds mis-measure kernel outputs whose holes
    kept their input winding) over KERNEL-NORMALIZED geometry: the
    per-tile clip for the numerator, the geometry intersected with its
    own bbox rectangle for the denominator (the kernel pass even-odd
    dissolves self-overlapping raw multipolygons, so weight =
    clip_area / geom_area is a true area fraction in [0, 1] and the
    weights of a fully covered geometry partition unity). One double
    division. A geometry without a tile cover (bbox outside the cell
    index range or over MAX_COVER_CELLS tiles) takes no part.

    100 TB shape: tile cover is the pure-JVM cover-cells expression
    (explode is map-side), the kernel clip + the per-case normalization
    are `kernel_map` stages with JVM-computed rectangle operands,
    areas are codegen folds, and the per-case region area joins back on
    case_id — no collect, no cross-tile shuffle beyond the one agg-free
    equi-join. `geoms` is consumed twice (clip branch + denominator
    branch); persist it upstream to avoid a second scan+extraction.
    The denominator is deliberately NOT sum(clip_area) — a shuffle-order
    sum is FP-nondeterministic across runs, while the per-geometry
    kernel pass gives every row a deterministic, oracle-reproducible
    value for one extra kernel run per geometry (~1/tiles-per-geometry
    relative cost).
    """
    from .measures import region_area_column

    tiled = geoms.select(
        "case_id",
        "geom_json",
        F.explode(
            cover_cells_column(
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), level
            )
        ).alias("tile_id"),
    )
    ok = F.col("status") == "ok"
    clip_area = kernel_map(
        tiled, "geom_json", cell_bounds_expr(F.col("tile_id")), ("intersection",),
        carry=("case_id", "tile_id"),
    ).filter(ok).select(
        "case_id",
        "tile_id",
        region_area_column("result_json").alias("clip_area"),
    )
    padded = (
        F.col("xmin") - _NORMALIZE_PAD,
        F.col("ymin") - _NORMALIZE_PAD,
        F.col("xmax") + _NORMALIZE_PAD,
        F.col("ymax") + _NORMALIZE_PAD,
    )
    geom_area = kernel_map(
        geoms, "geom_json", padded, ("intersection",), carry=("case_id",)
    ).filter(ok).select(
        "case_id",
        region_area_column("result_json").alias("geom_area"),
    )
    return (
        clip_area.join(geom_area, "case_id")
        .withColumn(
            "weight",
            F.when(
                F.col("geom_area") != 0.0,
                F.col("clip_area") / F.col("geom_area"),
            ).otherwise(F.lit(0.0)),
        )
        .select("case_id", "tile_id", "clip_area", "geom_area", "weight")
    )


def focal_sum(
    cells: DataFrame,
    x_col: str = "gx",
    y_col: str = "gy",
    val_col: str = "n",
    radius: int = 1,
) -> DataFrame:
    """Sparse raster focal (neighborhood) sum — the grid-convolution
    primitive behind heatmap smoothing, density surfaces, and kernel
    feature maps: for every grid cell, the sum of `val_col` over the
    (2r+1) x (2r+1) window centered on it.

    Input is the SPARSE raster (one row per nonzero cell, integer cell
    coordinates); output keeps sparse semantics — exactly the cells whose
    window touches a nonzero input cell appear. A windowed/self-join
    formulation needs a shuffle per neighbor or a range join; here each
    input cell map-side EXPLODES to its (2r+1)^2 contribution targets
    (a bounded constant factor) and ONE hash aggregate sums per target —
    partial aggregation collapses contributions before the shuffle, so
    skew in the input never amplifies. Integer-exact when `val_col` is
    integral (counts), making the op oracle-checkable bit-for-bit.
    """
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-radius, radius + 1)
            for dy in range(-radius, radius + 1)
        ]
    )
    contrib = cells.select(
        F.col(x_col), F.col(y_col), F.col(val_col),
        F.explode(offsets).alias("_o"),
    )
    return (
        contrib.groupBy(
            (F.col(x_col) + F.col("_o.dx")).alias(x_col),
            (F.col(y_col) + F.col("_o.dy")).alias(y_col),
        )
        .agg(F.sum(val_col).alias("focal_sum"))
    )


def grid_clusters(
    cells: DataFrame,
    x_col: str = "gx",
    y_col: str = "gy",
    val_col: str = "n",
    min_val: int = 1,
    max_iters: int = 25,
) -> DataFrame:
    """Density-connected grid clustering (the raster form of DBSCAN core
    clustering): keep cells with `val_col` >= `min_val`, connect
    8-neighbors, and label connected components — hotspot detection over
    the point grid.

    Edges come from a map-side 8-way offset EXPLODE + ONE equi-join on
    the neighbor key (the focal_sum shape — never a theta/self join on
    coordinate ranges); components use the d04 min-label/pointer-doubling
    propagation (operators/dedup.py::dedup_clusters, O(log n) rounds).
    Isolated dense cells — no dense neighbor — keep themselves as their
    own cluster rep (COALESCE), matching the recursive-CTE oracle.

    Cell key packing: cid is the level-0 cell id of (gx, gy)
    (functions/cells.py::cell_id_expr), injective exactly for indices in
    [-2^28, 2^28). Inputs here are grid indices (|ix| < 2^20 in every
    pipeline); coordinates outside the injective range raise at runtime
    rather than silently aliasing cluster labels, and a neighbor probe
    past the range edge has a NULL key and joins nothing. Returns one
    row per dense cell:
    (gx, gy, n, cluster_rep) with cluster_rep = the minimum cid of the
    component.
    """
    from ..functions.cells import cell_id_expr, in_index_range_expr
    from .dedup import dedup_clusters

    dense = cells.filter(F.col(val_col) >= F.lit(min_val)).select(
        F.col(x_col).cast("long").alias("gx"),
        F.col(y_col).cast("long").alias("gy"),
        F.col(val_col).alias("n"),
    )
    in_range = in_index_range_expr(F.col("gx")) & in_index_range_expr(F.col("gy"))
    cid = F.when(
        ~in_range,
        F.raise_error(
            F.lit(
                "grid_clusters: grid coordinates outside the injective "
                "packing range [-2^28, 2^28)"
            )
        ).cast("long"),
    ).otherwise(cell_id_expr(F.col("gx"), F.col("gy"), 0))
    keyed = dense.withColumn("cid", cid).localCheckpoint()
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ]
    )
    probes = keyed.select(
        F.col("cid").alias("id_a"),
        F.explode(offsets).alias("o"),
        F.col("gx"),
        F.col("gy"),
    ).select(
        "id_a",
        cell_id_expr(
            F.col("gx") + F.col("o.dx"), F.col("gy") + F.col("o.dy"), 0
        ).alias("id_b"),
    )
    edges = probes.join(
        keyed.select(F.col("cid").alias("id_b")), on="id_b"
    ).filter(F.col("id_a") < F.col("id_b"))
    comps = dedup_clusters(edges, "id_a", "id_b", max_iters=max_iters)
    return (
        keyed.join(comps, keyed.cid == comps.doc_id, "left")
        .select(
            "gx",
            "gy",
            "n",
            F.coalesce(F.col("cluster_rep"), F.col("cid")).alias("cluster_rep"),
        )
    )


def morans_i(
    cells: DataFrame,
    x_col: str = "gx",
    y_col: str = "gy",
    count_col: str = "n",
) -> DataFrame:
    """Moran's I spatial autocorrelation of a grid-cell count surface
    under binary 8-neighbor (Moore) weights — the standard "is this
    point pattern clustered or dispersed?" statistic.

    Exactness: the textbook formula divides by the mean m = S/n_cells,
    which is FP-unsafe across engines. Multiplying numerator and
    denominator through by n_cells^2 clears the rational mean into pure
    int64 sufficient statistics:

        num_scaled = n^2 * P  -  n * S * T  +  W * S^2
        den_scaled = n^2 * SS -  n * S^2
        I = (n / W) * (num_scaled / den_scaled)

    with n = cell count, S = sum of counts, SS = sum of squared counts,
    W = directed neighbor-pair count, P = sum over pairs of c_i*c_j,
    T = sum over pairs of (c_i + c_j). Every statistic is an exact
    integer aggregate (order-free); the final value is a fixed
    four-node double tree, so an ANSI-SQL oracle reproduces the double
    bit-for-bit.

    Scale shape: the pair relation is an EQUI-join of the pre-aggregated
    cell table against itself on the 8 exploded neighbor offsets — the
    join input is cells (already reduced from raw points by a map-side
    partial aggregate upstream), never points, and there is no theta
    join or cross product. At 100 TB of points the cell table is
    bounded by the grid extent, the offsets explode is x8 on that small
    relation, and both global aggregates are single-row reductions.
    """
    c = cells.select(
        F.col(x_col).alias("_gx"),
        F.col(y_col).alias("_gy"),
        F.col(count_col).cast("long").alias("_c"),
    )
    base = c.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("_c").alias("s"),
        F.sum(F.col("_c") * F.col("_c")).alias("ss"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    a = c.select(
        "_gx", "_gy", F.col("_c").alias("_ca"), F.explode(offsets).alias("_o")
    ).select(
        (F.col("_gx") + F.col("_o.dx")).alias("_nx"),
        (F.col("_gy") + F.col("_o.dy")).alias("_ny"),
        "_ca",
    )
    b = c.select(
        F.col("_gx").alias("_nx"), F.col("_gy").alias("_ny"), F.col("_c").alias("_cb")
    )
    pairs = a.join(b, on=["_nx", "_ny"]).agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.sum(F.col("_ca") * F.col("_cb")).alias("p"),
        F.sum(F.col("_ca") + F.col("_cb")).alias("t"),
    )
    joined = base.crossJoin(F.broadcast(pairs))
    num = (
        F.col("n_cells") * F.col("n_cells") * F.col("p")
        - F.col("n_cells") * F.col("s") * F.col("t")
        + F.col("w_pairs") * F.col("s") * F.col("s")
    )
    den = F.col("n_cells") * F.col("n_cells") * F.col("ss") - F.col(
        "n_cells"
    ) * F.col("s") * F.col("s")
    moran = F.when(
        (F.col("w_pairs") == 0) | (den == 0), F.lit(None).cast("double")
    ).otherwise(
        (F.col("n_cells").cast("double") / F.col("w_pairs").cast("double"))
        * (num.cast("double") / den.cast("double"))
    )
    return joined.select(
        "n_cells",
        "w_pairs",
        F.col("s").alias("sum_counts"),
        num.alias("num_scaled"),
        den.alias("den_scaled"),
        moran.alias("morans_i"),
    )
