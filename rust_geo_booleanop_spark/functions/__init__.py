from .cells import (
    bbox_cover_cells,
    cell_bounds,
    cell_size,
    decode_cell,
    encode_cells,
    morton_expr,
    morton_sql,
    parent_cell,
    point_cells,
    LEVEL0_SIZE,
)

__all__ = [
    "bbox_cover_cells",
    "cell_bounds",
    "cell_size",
    "decode_cell",
    "encode_cells",
    "morton_expr",
    "morton_sql",
    "parent_cell",
    "point_cells",
    "LEVEL0_SIZE",
]
