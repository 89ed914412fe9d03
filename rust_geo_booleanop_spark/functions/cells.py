"""Hierarchical grid-cell index (H3/S2-style, planar quadtree flavor).

Deterministic integer cell keys over the plane, used for:
  - spatially bucketing geometries so candidate pairs co-locate in one
    shuffle partition (spatial equi-join on cell_id),
  - tile assignment for clip outputs,
  - explicit skew handling (cell histograms -> salting hot cells).

Encoding: cell_id = (level << 58) | ((ix + OFFSET) << 29) | (iy + OFFSET)
with ix = floor(x / cell_size(level)) and OFFSET = 2^28. Parent/child
relationships are simple index shifts, like S2 cell parents. This module
is the only one that knows the layout: Spark operators go through the
`*_expr` Column twins of the NumPy helpers.

Range rule: an index must lie in [-2^28, 2^28) to fit its 29-bit lane.
Outside it (NaN and +-inf included) there is no cell: the NumPy helpers
raise ValueError, the Column twins give NULL, and a bbox cover is empty,
as is one over MAX_COVER_CELLS cells (untiled, no join candidates).
"""

from __future__ import annotations

import numpy as np

# Level-0 cell edge length in world units; level L halves it L times.
LEVEL0_SIZE = 4096.0
# Index bias; an index outside [-_OFFSET, _OFFSET) would spill into the
# next 29-bit lane and alias another cell (the range rule above).
_OFFSET = 1 << 28
_LANE = (1 << 29) - 1
# Most cells one bbox cover may list; a larger bbox gets an empty cover.
MAX_COVER_CELLS = 1 << 16


def cell_size(level: int) -> float:
    return LEVEL0_SIZE / (1 << level)


def in_index_range(i):
    """True where an index (or coord / cell_size) is in [-2^28, 2^28)."""
    return (i >= -_OFFSET) & (i < _OFFSET)


def in_index_range_expr(i):
    """Column twin of `in_index_range` (Spark orders NaN above +inf)."""
    from pyspark.sql import functions as F

    return (i >= F.lit(-_OFFSET)) & (i < F.lit(_OFFSET))


def cell_index(coord, level: int) -> np.ndarray:
    """Cell index floor(coord / cell_size(level)) of each coordinate, as
    float64 (`encode_cells` rejects the out-of-range ones)."""
    return np.floor(np.asarray(coord, dtype=np.float64) / cell_size(level))


def cell_index_expr(coord, level: int):
    """Column twin of `cell_index`: a long Column, NULL where
    coord / cell_size is NaN, +-inf or outside the index range."""
    from pyspark.sql import functions as F

    q = coord / F.lit(cell_size(level))
    return F.when(in_index_range_expr(q), F.floor(q).cast("long"))


def encode_cells(ix: np.ndarray, iy: np.ndarray, level: int) -> np.ndarray:
    """Cell ids of index arrays; ValueError if an index is out of range."""
    if not (in_index_range(ix).all() and in_index_range(iy).all()):
        raise ValueError(f"cell index outside [-2^28, 2^28) at level {level}")
    return (
        (np.int64(level) << np.int64(58))
        | ((ix.astype(np.int64) + _OFFSET) << np.int64(29))
        | (iy.astype(np.int64) + _OFFSET)
    )


def cell_id_expr(ix, iy, level: int):
    """Column twin of `encode_cells` on long index Columns at a plan-time
    `level`: NULL where an index is NULL or out of range."""
    from pyspark.sql import functions as F

    cell_id = (
        F.lit(int(level) << 58)
        .bitwiseOR(F.shiftleft(ix + F.lit(_OFFSET), 29))
        .bitwiseOR(iy + F.lit(_OFFSET))
    )
    return F.when(in_index_range_expr(ix) & in_index_range_expr(iy), cell_id)


def decode_cell(cell_id: int):
    level = int(cell_id >> 58)
    ix = int((cell_id >> 29) & _LANE) - _OFFSET
    iy = int(cell_id & _LANE) - _OFFSET
    return level, ix, iy


def decode_cell_expr(cell_id):
    """Column twin of `decode_cell`: (level, ix, iy) long Columns."""
    from pyspark.sql import functions as F

    lane = F.lit(_LANE)
    return (
        F.shiftrightunsigned(cell_id, 58),
        F.shiftrightunsigned(cell_id, 29).bitwiseAND(lane) - F.lit(_OFFSET),
        cell_id.bitwiseAND(lane) - F.lit(_OFFSET),
    )


def cell_bounds(cell_id: int):
    level, ix, iy = decode_cell(cell_id)
    size = cell_size(level)
    return ix * size, iy * size, (ix + 1) * size, (iy + 1) * size


def cell_bounds_expr(cell_id):
    """JVM Column twin of `cell_bounds`: the four double Columns (xmin,
    ymin, xmax, ymax) of a long cell-id Column, NULL for a NULL id. Bit
    for bit the Python values: every index converts to double exactly and
    the cell size is a power of two, so `ix * size` is the same product
    on both sides."""
    from pyspark.sql import functions as F

    level, ix, iy = decode_cell_expr(cell_id)
    size = F.lit(LEVEL0_SIZE) / F.pow(F.lit(2.0), level)
    return ix * size, iy * size, (ix + 1) * size, (iy + 1) * size


def parent_cell(cell_id: int, parent_level: int) -> int:
    level, ix, iy = decode_cell(cell_id)
    shift = level - parent_level
    if shift < 0:
        raise ValueError("parent_level must be <= cell level")
    return int(
        encode_cells(
            np.array([ix >> shift]), np.array([iy >> shift]), parent_level
        )[0]
    )


def point_cells(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Cell ids of points; ValueError if a coordinate is out of range."""
    return encode_cells(cell_index(x, level), cell_index(y, level), level)


def bbox_cover_cells(xmin, ymin, xmax, ymax, level: int):
    """List of cell ids covering one bbox (python ints). A NaN, inverted
    or out-of-range bbox, or one over MAX_COVER_CELLS cells -> []."""
    if not (xmin <= xmax and ymin <= ymax):
        return []
    idx = cell_index((xmin, ymin, xmax, ymax), level)
    if not in_index_range(idx).all():
        return []
    ix0, iy0, ix1, iy1 = map(int, idx)
    if (ix1 - ix0 + 1) * (iy1 - iy0 + 1) > MAX_COVER_CELLS:
        return []
    ixs, iys = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.int64),
        np.arange(iy0, iy1 + 1, dtype=np.int64),
        indexing="ij",
    )
    return encode_cells(ixs.ravel(), iys.ravel(), level).tolist()


# ---------------------------------------------------------------------------
# Morton (Z-order) curve — the locality-preserving 1-D key used for
# file/layout clustering (Delta/Iceberg Z-ORDER) and for z-range pruning
# of spatial predicates: one integer sort key whose prefix blocks are
# spatial blocks.
# ---------------------------------------------------------------------------

# Bit-spread rounds for one 16-bit coordinate (classic magic-number
# interleave). SINGLE source of truth: both the Spark Column expression
# and the generated DuckDB SQL twin are built from this table — a change
# here changes both engines in lockstep.
MORTON_ROUNDS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)
_MORTON_COORD_MASK = 0xFFFF  # 16-bit coordinates -> 32-bit morton keys


def morton_expr(ix, iy):
    """JVM Column: 32-bit Morton key of two 16-bit integer Columns.

    morton = spread(ix & 0xFFFF) | (spread(iy & 0xFFFF) << 1) where
    spread() inserts a zero bit between consecutive coordinate bits via
    MORTON_ROUNDS. Pure shift/AND/OR integer codegen — no UDF, no Python.
    """
    from pyspark.sql import functions as F

    def spread(col):
        # force int64 lanes: spread(iy) << 1 reaches 0xAAAAAAAA, which
        # overflows a 32-bit lane if the input Column was IntegerType
        acc = col.cast("long").bitwiseAND(F.lit(_MORTON_COORD_MASK).cast("long"))
        for shift, mask in MORTON_ROUNDS:
            acc = acc.bitwiseOR(F.shiftleft(acc, shift)).bitwiseAND(
                F.lit(mask).cast("long")
            )
        return acc

    return spread(ix).bitwiseOR(F.shiftleft(spread(iy), 1))


def morton_sql(ix_sql: str, iy_sql: str) -> str:
    """DuckDB SQL twin of `morton_expr`, GENERATED from MORTON_ROUNDS —
    do not hand-edit the emitted text. `ix_sql`/`iy_sql` are integer SQL
    expressions (BIGINT-safe: every literal is CAST to BIGINT so the
    shift/AND chain never touches INT32)."""

    def spread(expr: str) -> str:
        acc = f"(({expr}) & CAST({_MORTON_COORD_MASK} AS BIGINT))"
        for shift, mask in MORTON_ROUNDS:
            acc = f"(({acc} | ({acc} << {shift})) & CAST({mask} AS BIGINT))"
        return acc

    return f"({spread(ix_sql)} | ({spread(iy_sql)} << 1))"
