"""Pair-level boolean-op runner: one (subject, clipping) JSON pair -> all ops.

The one kernel contract of every operator: GeoJSON in; result JSON,
n_polys, bbox and status out, one row per op. The kernel stage
(operators/boolean_join.py::kernel_map) runs it over Arrow batches for
the batch and streaming boolean ops and the tiling operators; dissolve
(operators/dissolve.py) folds its unions through `resolve_pair_runner`.
Two engines, byte-identical outputs:

- `pair_boolean_ops_python`: the reference composition — json parse
  (kernel/geojson.py), one `boolean_op` sweep per op, json serialize +
  bbox per result. The sweep itself is pluggable (pure-Python kernel or
  the native C sweep) so round-3 behavior is reproducible exactly.
- `kernel.native.pair_boolean_ops_native`: the whole lifecycle in C —
  parse once, ONE sweep shared by intersection, union, diff and xor
  (each op's result read off it; diff_ba, on swapped operands, sweeps
  alone), serialize in C via CPython's own float repr/strtod functions.
  Its parser takes every geometry the validity rule of kernel/geojson.py
  accepts, save a few exotic spellings (see martinez.c), and declines
  (returns None) those and malformed input; the resolver's wrapper then
  runs the Python composition, where the rule decides the input: both
  engines give the same rows on any input.

The Spark kernel stage runs whole Arrow batches through
`resolve_batch_runner`: natively, one `pair_boolean_ops_batch_native` C
call per batch (each subject parsed once per run of equal consecutive
rows, rectangle clippings built from their doubles), which returns the
whole batch or nothing; a batch it does not return runs row by row
through `resolve_pair_runner()`. On the Python engine the batch runner
is the per-row loop over `pair_rows`.

A rejected operand degrades its rows, never the task: an operand the
validity rule of kernel/geojson.py rejects gives every op status
'invalid_input', a sweep past its event budget status 'limit_exceeded',
both with an empty result. Only an unknown op raises (ValueError).

`resolve_native` is the one engine selection behind `resolve_pair_runner`,
`resolve_batch_runner` and `resolve_bbox_fn`: the C kernel exactly when
it builds and loads (`native.NATIVE_AVAILABLE`), the pure-Python path
otherwise. Byte-identity across engines is pinned by
tests/test_native_pairs.py.
"""

from __future__ import annotations

import functools

from .booleanop import KernelLimitExceeded, boolean_op
from .geojson import multipolygon_bbox, parse_multipolygon, serialize_multipolygon

_NAN = float("nan")
_OPS = {"intersection", "union", "diff", "xor", "diff_ba"}
_EMPTY_JSON = serialize_multipolygon([])


def pair_boolean_ops_python(s_json, c_json, ops, boolean_op_fn=None):
    """Reference pair runner: returns [(op, result_json, n_polys, xmin,
    ymin, xmax, ymax, status_str), ...] — one row payload per op."""
    op_fn = boolean_op_fn if boolean_op_fn is not None else boolean_op
    for op in set(ops) - _OPS:
        raise ValueError(f"unknown operation: {op!r}")
    try:
        subject = parse_multipolygon(s_json)
        clipping = parse_multipolygon(c_json)
    except ValueError:
        return [(op, _EMPTY_JSON, 0, _NAN, _NAN, _NAN, _NAN, "invalid_input") for op in ops]
    rows = []
    for op in ops:
        try:
            result = op_fn(subject, clipping, op)
            status = "ok"
        except KernelLimitExceeded:
            # degenerate input: mark the row, don't kill the job
            result, status = [], "limit_exceeded"
        if result:
            xmin, ymin, xmax, ymax = multipolygon_bbox(result)
        else:
            xmin = ymin = xmax = ymax = _NAN
        rows.append(
            (op, serialize_multipolygon(result), len(result), xmin, ymin, xmax, ymax, status)
        )
    return rows


def resolve_native():
    """The engine selection shared by every resolver: the loaded C kernel
    module when it builds and loads, else None for the pure-Python path."""
    try:
        from . import native as native_mod  # compile-on-first-import
    except Exception:
        return None
    return native_mod if native_mod.NATIVE_AVAILABLE else None


def resolve_pair_runner():
    """Pick the pair-runner implementation for the kernel stage hot path:
    the full-C pair runner when the C kernel is available (falling back
    per-pair to the Python composition over the native sweep when the C
    parser declines an input), else the pure-Python reference path.
    """
    native_mod = resolve_native()
    if native_mod is None:
        return pair_boolean_ops_python
    native_pair = native_mod.pair_boolean_ops_native
    native_sweep = native_mod.boolean_op_native

    def runner(s_json, c_json, ops):
        rows = native_pair(s_json, c_json, ops)
        if rows is None:  # declined: Python marshalling path
            return pair_boolean_ops_python(
                s_json, c_json, ops, boolean_op_fn=native_sweep
            )
        return rows

    return runner


def bbox_square_json(x0: float, y0: float, x1: float, y1: float) -> str:
    """Serialized 1-polygon multipolygon of a bbox rectangle (repr
    round-trips exactly, so parsing it yields the same doubles). Shared
    with the g03/g20 oracle-fixture generator."""
    return serialize_multipolygon(
        [[[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]]
    )


def pair_rows(pair_run, s_json, c_json, ops) -> list:
    """One pair's kernel payloads, one per op: (op, result_json, n_polys,
    xmin, ymin, xmax, ymax, status). A NULL operand makes no kernel call;
    its rows carry the op and NULL everywhere else."""
    if s_json is None or c_json is None:
        return [(op,) + (None,) * 7 for op in ops]
    return pair_run(s_json, c_json, ops)


def payload_columns(rows) -> list:
    """Payload rows as the Arrow columns op string, result_json string,
    n_polys int32, xmin/ymin/xmax/ymax float64, status string; a NaN bbox
    (empty result) becomes NULL."""
    import pyarrow as pa

    types = [pa.string(), pa.string(), pa.int32()] + [pa.float64()] * 4 + [pa.string()]
    cols = list(zip(*rows)) or [()] * len(types)
    return [pa.array(col, type=t, from_pandas=True) for col, t in zip(cols, types)]


def _to_list(col) -> list:
    """`col.to_pylist()`, NULLs included, through NumPy: several times
    faster for strings and ~20x for doubles on pyarrow 16."""
    import numpy as np

    values = col.to_numpy(zero_copy_only=False).tolist()
    if col.null_count:
        for i in np.flatnonzero(col.is_null().to_numpy(zero_copy_only=False)):
            values[i] = None
    return values


def _per_row_batch(pair_run):
    """The batch runner as a loop of `pair_run` calls, one per row."""
    import pyarrow as pa

    # tile squares repeat across rows
    square = functools.lru_cache(maxsize=1 << 14)(bbox_square_json)

    def run(subject, clipping, ops):
        if isinstance(clipping, pa.Array):
            clips = _to_list(clipping)
        else:
            bounds = zip(*map(_to_list, clipping))
            clips = [None if None in r else square(*r) for r in bounds]
        return payload_columns(
            [
                row
                for s_json, c_json in zip(_to_list(subject), clips)
                for row in pair_rows(pair_run, s_json, c_json, ops)
            ]
        )

    return run


def resolve_batch_runner():
    """Pick the batch runner of the kernel stage: a callable
    (subject, clipping, ops) -> the payload columns (see
    `payload_columns`), len(ops) rows per input row, in op order.

    `subject` is an Arrow string column of GeoJSON; `clipping` is another
    one, or four float64 columns (xmin, ymin, xmax, ymax) of a rectangle
    that is serialized like `bbox_square_json`. A NULL operand makes no
    kernel call (see `pair_rows`).

    With the native kernel, each batch is one C call, which returns the
    whole batch or nothing. A batch it does not return (a row its parser
    declines, output past 2**31 bytes, out of memory) runs row by row
    through `resolve_pair_runner()`: same bytes, same 'invalid_input'
    rows. An unknown op raises ValueError. Without the C kernel the batch
    runner is the per-row loop.
    """
    native_mod = resolve_native()
    if native_mod is None:
        return _per_row_batch(pair_boolean_ops_python)
    per_row = _per_row_batch(resolve_pair_runner())
    native_batch = native_mod.pair_boolean_ops_batch_native

    def run(subject, clipping, ops):
        out = native_batch(subject, clipping, ops)
        return out.columns if out is not None else per_row(subject, clipping, ops)

    return run


def resolve_bbox_fn():
    """Pick the geometry-string -> bbox implementation (extraction stage).

    Returns a callable(geom_json) -> (xmin, ymin, xmax, ymax), ValueError
    on a geometry the validity rule of kernel/geojson.py rejects. The
    native path builds no Python geometry objects; it falls back
    per-string when the C parser declines.
    """

    def python_bbox(geom_json):
        return multipolygon_bbox(parse_multipolygon(geom_json))

    native_mod = resolve_native()
    if native_mod is None:
        return python_bbox
    native_bbox = native_mod.parse_bbox_native

    def bbox_fn(geom_json):
        bb = native_bbox(geom_json)
        return bb if bb is not None else python_bbox(geom_json)

    return bbox_fn


__all__ = [
    "bbox_square_json",
    "pair_boolean_ops_python",
    "pair_rows",
    "payload_columns",
    "resolve_batch_runner",
    "resolve_pair_runner",
    "resolve_bbox_fn",
]
