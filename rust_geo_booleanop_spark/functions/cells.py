"""Hierarchical grid-cell index (H3/S2-style, planar quadtree flavor).

Deterministic integer cell keys over the plane, used for:
  - spatially bucketing geometries so candidate pairs co-locate in one
    shuffle partition (spatial equi-join on cell_id),
  - tile assignment for clip outputs,
  - explicit skew handling (cell histograms -> salting hot cells).

Encoding: cell_id = (level << 58) | ((ix + OFFSET) << 29) | (iy + OFFSET)
with ix = floor(x / cell_size(level)). Parent/child relationships are
simple index shifts, like S2 cell parents. Pure NumPy — vectorized over
Arrow batches; no per-row Python in the Spark path.
"""

from __future__ import annotations

import math

import numpy as np

# Level-0 cell edge length in world units; level L halves it L times.
LEVEL0_SIZE = 4096.0
_OFFSET = 1 << 28  # supports coordinates in +-(2^28 * cell_size)


def cell_size(level: int) -> float:
    return LEVEL0_SIZE / (1 << level)


def encode_cells(ix: np.ndarray, iy: np.ndarray, level: int) -> np.ndarray:
    return (
        (np.int64(level) << np.int64(58))
        | ((ix.astype(np.int64) + _OFFSET) << np.int64(29))
        | (iy.astype(np.int64) + _OFFSET)
    )


def cell_id_expr(ix, iy, level: int):
    """JVM Column twin of `encode_cells`: the SINGLE definition of the
    (level << 58) | ((ix + OFFSET) << 29) | (iy + OFFSET) bit layout for
    Spark expressions — every codegen encode site (point cells, cover
    cells, kNN buckets, pyramid re-encode, bench inputs) must build its
    cell ids through this helper so a layout change cannot drift between
    copies. `ix`/`iy` are long Columns of cell indices; `level` is a
    plan-time int."""
    from pyspark.sql import functions as F

    return (
        F.lit(int(level) << 58)
        .bitwiseOR(F.shiftleft(ix + F.lit(_OFFSET), 29))
        .bitwiseOR(iy + F.lit(_OFFSET))
    )


def decode_cell(cell_id: int):
    level = int(cell_id >> 58)
    ix = int((cell_id >> 29) & ((1 << 29) - 1)) - _OFFSET
    iy = int(cell_id & ((1 << 29) - 1)) - _OFFSET
    return level, ix, iy


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

    mask = F.lit((1 << 29) - 1)
    size = F.lit(LEVEL0_SIZE) / F.pow(F.lit(2.0), F.shiftrightunsigned(cell_id, 58))
    ix = F.shiftrightunsigned(cell_id, 29).bitwiseAND(mask) - F.lit(_OFFSET)
    iy = cell_id.bitwiseAND(mask) - F.lit(_OFFSET)
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
    size = cell_size(level)
    ix = np.floor(x / size)
    iy = np.floor(y / size)
    return encode_cells(ix, iy, level)


def bbox_cover_cells(xmin, ymin, xmax, ymax, level: int):
    """List of cell ids covering one bbox (python ints). A NaN, infinite
    or inverted bbox -> []."""
    if not all(map(math.isfinite, (xmin, ymin, xmax, ymax))):
        return []
    if xmin > xmax or ymin > ymax:
        return []
    size = cell_size(level)
    ix0 = int(np.floor(xmin / size))
    ix1 = int(np.floor(xmax / size))
    iy0 = int(np.floor(ymin / size))
    iy1 = int(np.floor(ymax / size))
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
