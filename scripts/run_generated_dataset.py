"""Generated-dataset runner (debug/plot ergonomics).

Mirrors the reference's tiny binary
(/root/reference/tests/src/bin/run_generated_dataset.rs:13-45): pick one
of the three deterministic data generators, run a boolean op over the
generated (subject, clipping) pair, and write the reference's compact
GeoJSON format — [subject, clipping, result] with the result feature
carrying {"operation": <op>} — so the output diffs cleanly against
anything the Rust binary would have produced and feeds the same plotting
workflow as scripts/run_single_fixture.py.

Beyond the reference binary: --op selects any of the five ops (the Rust
binary hardcodes xor). The op runs on the pure-Python reference kernel.

Usage:
  python scripts/run_generated_dataset.py grid
  python scripts/run_generated_dataset.py circles_vs_rects --op union
  python scripts/run_generated_dataset.py random_triangles --out /tmp/t.geojson
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_geo_booleanop_spark.kernel import boolean_op
from rust_geo_booleanop_spark.kernel.bench_cases import (
    generate_circles_vs_rects,
    generate_grid_polygons,
    generate_random_triangles_polygons,
)
from rust_geo_booleanop_spark.kernel.geojson import multipolygon_to_geometry
from rust_geo_booleanop_spark.sources.geojson_source import compact_feature_collection

GENERATORS = {
    "grid": generate_grid_polygons,
    "circles_vs_rects": generate_circles_vs_rects,
    "random_triangles": generate_random_triangles_polygons,
}

OPS = ("intersection", "union", "diff", "diff_ba", "xor")


def main() -> None:
    ap = argparse.ArgumentParser(description="Generated-dataset case runner")
    ap.add_argument("case", choices=sorted(GENERATORS))
    ap.add_argument("--op", choices=OPS, default="xor",
                    help="boolean operation (reference binary: xor)")
    ap.add_argument("--out", default=None,
                    help="output path (default: <tmpdir>/<case>.geojson)")
    args = ap.parse_args()

    a, b = GENERATORS[args.case]()
    result = boolean_op(a, b, args.op)

    features = [
        {"geometry": multipolygon_to_geometry(a), "properties": None},
        {"geometry": multipolygon_to_geometry(b), "properties": None},
        {
            "geometry": multipolygon_to_geometry(result),
            "properties": {"operation": args.op},
        },
    ]
    out_path = args.out or os.path.join(
        tempfile.gettempdir(), f"{args.case}.geojson"
    )
    with open(out_path, "w") as f:
        f.write(compact_feature_collection(features))
    print(
        f"{args.case}/{args.op}: subject {len(a)} polys x "
        f"clipping {len(b)} -> result {len(result)} polys -> {out_path}"
    )


if __name__ == "__main__":
    main()
