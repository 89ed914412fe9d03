"""Run ONE reference fixture and report per-op diffs (debug ergonomics).

Mirrors the reference's single-case runner
(/root/reference/tests/src/bin/run_single_test.rs:40-60) and the REGEN
fixture-regeneration mode (tests/src/generic_test_cases.rs:80-91):

  python scripts/run_single_fixture.py issue96
  python scripts/run_single_fixture.py /path/to/case.geojson --swap-ab
  python scripts/run_single_fixture.py issue96 --regen /tmp/issue96.gen.geojson

- bare names resolve against the reference generic_test_cases corpus
- per annotated op: run the kernel, compare coordinate-exact against the
  expected feature, and on mismatch print WHERE the first divergence is
  (polygon/ring/point index, both values)
- --swap-ab swaps the operands (ops flagged swap_ab_is_broken and the
  asymmetric diff ops are skipped, like the pytest suite)
- --regen writes a full FeatureCollection with the COMPUTED results as
  features[2..] to the given output path (never the read-only reference
  corpus) — drop it next to a failing case to diff or to seed a new
  fixture.

Exit code 0 iff every op matched (always 0 with --regen, mirroring the
reference's "REGEN never passes" guard by NOT claiming success).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_geo_booleanop_spark.kernel import boolean_op, load_fixture
from rust_geo_booleanop_spark.kernel.geojson import (
    REFERENCE_FIXTURES,
    multipolygon_to_geometry,
    reference_case_files,
)


def resolve(name: str) -> str:
    if os.path.exists(name):
        return name
    for path in reference_case_files():
        if os.path.basename(path) in (name, name + ".geojson"):
            return path
    raise SystemExit(f"fixture not found: {name!r} (not a golden-suite case either)")


def refuse_corpus_write(out_path: str) -> None:
    if out_path.startswith(REFERENCE_FIXTURES):
        raise SystemExit("refusing to write into the read-only reference corpus")


def first_divergence(got, want):
    """Human-readable path to the first coordinate-level difference."""
    if len(got) != len(want):
        return f"polygon count {len(got)} != {len(want)}"
    for pi, (gp, wp) in enumerate(zip(got, want)):
        if len(gp) != len(wp):
            return f"poly[{pi}] ring count {len(gp)} != {len(wp)}"
        for ri, (gr, wr) in enumerate(zip(gp, wp)):
            if len(gr) != len(wr):
                return f"poly[{pi}].ring[{ri}] point count {len(gr)} != {len(wr)}"
            for ci, (gc, wc) in enumerate(zip(gr, wr)):
                if tuple(gc) != tuple(wc):
                    return (
                        f"poly[{pi}].ring[{ri}].point[{ci}]: "
                        f"got {tuple(gc)!r} want {tuple(wc)!r}"
                    )
    return "identical"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("fixture", help="fixture path or bare case name")
    ap.add_argument("--swap-ab", action="store_true", help="swap the operands")
    ap.add_argument(
        "--regen",
        metavar="OUT",
        help="write a FeatureCollection with computed results to OUT",
    )
    args = ap.parse_args()

    path = resolve(args.fixture)
    print(f"*** Running fixture: {path}" + (" (swapped)" if args.swap_ab else ""))
    subject, clipping, expected = load_fixture(path)
    if args.swap_ab:
        subject, clipping = clipping, subject

    failures = 0
    computed = []
    for op, exp, swap_broken in expected:
        if args.swap_ab and (op in ("diff", "diff_ba") or swap_broken):
            print(f"  {op:14s} SKIP (asymmetric or swap_ab_is_broken)")
            continue
        result = boolean_op(subject, clipping, op)
        computed.append((op, result))
        if result == exp:
            print(f"  {op:14s} OK ({len(result)} polys)")
        else:
            failures += 1
            print(f"  {op:14s} DIFF: {first_divergence(result, exp)}")

    if args.regen:
        out_path = os.path.abspath(args.regen)
        refuse_corpus_write(out_path)
        with open(path) as f:
            fc = json.load(f)
        feats = fc["features"][:2]
        for op, result in computed:
            feats.append(
                {
                    "type": "Feature",
                    "properties": {"operation": op},
                    "geometry": multipolygon_to_geometry(result),
                }
            )
        with open(out_path, "w") as f:
            json.dump({"type": "FeatureCollection", "features": feats}, f, indent=1)
        print(f"regenerated fixture written to {out_path}")
        # mirror the reference's guard: REGEN mode never reports success
        # (a regenerated expectation passing itself proves nothing)
        return 1

    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
