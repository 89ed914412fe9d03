"""Pair-level boolean-op runner: one (subject, clipping) JSON pair -> all ops.

This is the unit of work the Spark kernel stage (operators/boolean_join.py)
executes per candidate pair. Two engines, byte-identical outputs:

- `pair_boolean_ops_python`: the reference composition — json parse
  (kernel/geojson.py), one `boolean_op` sweep per op, json serialize +
  bbox per result. The sweep itself is pluggable (pure-Python kernel or
  the native C sweep) so round-3 behavior is reproducible exactly.
- `kernel.native.pair_boolean_ops_native`: the whole lifecycle in C —
  parse once, sweep per op on the same flat arrays, serialize in C via
  CPython's own float repr/strtod functions. Declines (returns None) on
  anything outside the strict GeoJSON subset our pipelines emit, in which
  case the resolver's wrapper falls back to the Python composition so odd
  inputs keep their original behavior (including exception types).

`resolve_native` is the one engine selection ($SPARK_GRAFT_KERNEL = auto |
native | python, validated) behind `resolve_pair_runner`, `resolve_bbox_fn`
and `kernel.resolve_boolean_op`.
Byte-identity across engines is pinned by tests/test_native_pairs.py.
"""

from __future__ import annotations

import os as _os

from .booleanop import KernelLimitExceeded, boolean_op
from .geojson import multipolygon_bbox, parse_multipolygon, serialize_multipolygon

_NAN = float("nan")


def pair_boolean_ops_python(s_json, c_json, ops, boolean_op_fn=None):
    """Reference pair runner: returns [(op, result_json, n_polys, xmin,
    ymin, xmax, ymax, status_str), ...] — one row payload per op."""
    op_fn = boolean_op_fn if boolean_op_fn is not None else boolean_op
    subject = parse_multipolygon(s_json)
    clipping = parse_multipolygon(c_json)
    rows = []
    for op in ops:
        try:
            result = op_fn(subject, clipping, op)
            status = "ok"
        except KernelLimitExceeded:
            # degenerate input: mark the row, don't kill the job
            result = []
            status = "limit_exceeded"
        if result:
            xmin, ymin, xmax, ymax = multipolygon_bbox(result)
        else:
            xmin = ymin = xmax = ymax = _NAN
        rows.append(
            (op, serialize_multipolygon(result), len(result), xmin, ymin, xmax, ymax, status)
        )
    return rows


def resolve_native(engine: str | None = None):
    """The engine selection shared by every resolver: validate `engine`
    (or $SPARK_GRAFT_KERNEL) as 'auto' (default), 'native' or 'python' and
    return the loaded C kernel module, or None for the pure-Python path.
    'native' raises when the C kernel cannot be built or loaded."""
    eng = engine or _os.environ.get("SPARK_GRAFT_KERNEL", "auto")
    if eng not in ("auto", "native", "python"):
        # A typo like SPARK_GRAFT_KERNEL=pyton silently running the native
        # kernel would be the opposite of the operator's intent.
        raise ValueError(
            f"unknown kernel engine {eng!r}: expected 'auto', 'native', or 'python'"
        )
    if eng == "python":
        return None
    try:
        from . import native as native_mod  # compile-on-first-import
    except Exception:
        native_mod = None
    if native_mod is not None and native_mod.NATIVE_AVAILABLE:
        return native_mod
    if eng == "native":
        raise RuntimeError(
            "SPARK_GRAFT_KERNEL=native but the C kernel is unavailable"
        )
    return None


def resolve_pair_runner(engine: str | None = None):
    """Pick the pair-runner implementation for the kernel stage hot path.

    'auto' (default) uses the full-C pair runner when available (falling
    back per-pair to the Python composition over the native sweep when
    the C parser declines an input); 'python' forces the pure-Python
    reference path; 'native' requires the C kernel.
    """
    native_mod = resolve_native(engine)
    if native_mod is None:
        return pair_boolean_ops_python
    native_pair = native_mod.pair_boolean_ops_native
    native_sweep = native_mod.boolean_op_native

    def runner(s_json, c_json, ops):
        rows = native_pair(s_json, c_json, ops)
        if rows is None:  # strict-subset miss: Python marshalling path
            return pair_boolean_ops_python(
                s_json, c_json, ops, boolean_op_fn=native_sweep
            )
        return rows

    return runner


def resolve_bbox_fn(engine: str | None = None):
    """Pick the geometry-string -> bbox implementation (extraction stage).

    Returns a callable(geom_json) -> (xmin, ymin, xmax, ymax). The native
    path avoids building Python geometry objects entirely; it falls back
    per-string when the C parser declines, so error behavior on malformed
    geometry is identical to the Python path.
    """

    def python_bbox(geom_json):
        return multipolygon_bbox(parse_multipolygon(geom_json))

    native_mod = resolve_native(engine)
    if native_mod is None:
        return python_bbox
    native_bbox = native_mod.parse_bbox_native

    def bbox_fn(geom_json):
        bb = native_bbox(geom_json)
        return bb if bb is not None else python_bbox(geom_json)

    return bbox_fn


__all__ = [
    "pair_boolean_ops_python",
    "resolve_pair_runner",
    "resolve_bbox_fn",
]
