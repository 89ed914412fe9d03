"""Single-core ceilings, run in the benchmark process and timed through
public functions only.

Each ceiling loops over the same rows the Spark stage processes, on one
core in this process, and is divided by the core count: the stage's wall
time over its ceiling is the Spark/Arrow/pandas overhead factor.
"""

from __future__ import annotations

import statistics
import time

from rust_geo_booleanop_spark.kernel.pairs import resolve_bbox_fn, resolve_pair_runner
from rust_geo_booleanop_spark.operators.extract import GEO_SCRIPT_RE
from rust_geo_booleanop_spark.operators.tiling import tile_square_json

from .gen import OPS


def extract_s(pages) -> float:
    """Seconds for the extraction regex plus the bbox parse over every page."""
    bbox_fn = resolve_bbox_fn()
    t0 = time.perf_counter()
    for _url, html, _text in pages:
        m = GEO_SCRIPT_RE.search(html)
        if m is None:
            continue
        try:
            bbox_fn(m.group(1).decode("utf-8"))
        except ValueError:  # a malformed block; the stage drops the page
            pass
    return time.perf_counter() - t0


def _native_pair():
    """The C pair runner, or None when the native kernel is unavailable."""
    try:
        from rust_geo_booleanop_spark.kernel import native
    except ImportError:
        return None
    return native.pair_boolean_ops_native if native.NATIVE_AVAILABLE else None


def kernel_calls(calls) -> dict:
    """Run `calls` [(subject_json, clipping_json, ops)] through the engine's
    pair runner one at a time. A call the C parser declines (returns None)
    is counted and rerun through `resolve_pair_runner()`, exactly the
    runner's own fallback."""
    runner = resolve_pair_runner()
    native_pair = _native_pair()
    times, declines, limited = [], 0, 0
    for s_json, c_json, ops in calls:
        t0 = time.perf_counter()
        rows = native_pair(s_json, c_json, ops) if native_pair else None
        if rows is None:
            declines += 1
            rows = runner(s_json, c_json, ops)
        times.append(time.perf_counter() - t0)
        limited += sum(1 for r in rows if r[-1] == "limit_exceeded")
    times.sort()
    return {
        "total_s": sum(times),
        "p50_us": statistics.median(times) * 1e6,
        "p99_us": times[int(0.99 * (len(times) - 1))] * 1e6,
        "native_declines": declines,
        "limit_exceeded": limited,
    }


def pair_calls(pairs):
    return [(p.subject_json, p.clipping_json, OPS) for p in pairs]


def clip_calls(clips):
    squares: dict[int, str] = {}
    out = []
    for c in clips:
        sq = squares.get(c.tile_id)
        if sq is None:
            sq = squares[c.tile_id] = tile_square_json(c.tile_id)
        out.append((c.geom_json, sq, ("intersection",)))
    return out
