"""Pure-Python Martinez-Rueda-Feito polygon boolean-op kernel.

Fixture-exact reimplementation of the semantics of
21re/rust-geo-booleanop (its lib/src/boolean/) — runs over Arrow batches
in Spark's Python workers (operators/boolean_join.py::kernel_map); never
row-at-a-time per Spark row.
"""

from .booleanop import (
    boolean_op,
    intersection,
    union,
    difference,
    xor,
    KernelInvalidInput,
    KernelLimitExceeded,
    INTERSECTION,
    UNION,
    DIFFERENCE,
    XOR,
)
from .geojson import (
    load_fixture,
    parse_multipolygon,
    serialize_multipolygon,
    multipolygon_bbox,
)
from .predicates import signed_area, segment_intersection
from .f32 import boolean_op_f32, quantize_multipolygon_f32
from .pairs import pair_boolean_ops_python, resolve_bbox_fn, resolve_pair_runner

__all__ = [
    "boolean_op",
    "pair_boolean_ops_python",
    "resolve_pair_runner",
    "resolve_bbox_fn",
    "intersection",
    "union",
    "difference",
    "xor",
    "KernelInvalidInput",
    "KernelLimitExceeded",
    "INTERSECTION",
    "UNION",
    "DIFFERENCE",
    "XOR",
    "load_fixture",
    "parse_multipolygon",
    "serialize_multipolygon",
    "multipolygon_bbox",
    "signed_area",
    "segment_intersection",
    "boolean_op_f32",
    "quantize_multipolygon_f32",
]
