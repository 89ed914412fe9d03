"""Correctness gate: every run checks the program's outputs.

- exact row counts against the generator's targets;
- an order-independent digest that must repeat across the jobs of a run;
- a byte-exact comparison of a seeded sample of pairs (or clips) against
  the pure-Python reference runner `pair_boolean_ops_python`;
- in the traced run, `extract.dropped` against the generated dirty plus
  no-geometry pages, and `text` byte-identity per url through extraction.

Failures are counted in expected result rows (ops), so they add up with
`attempted`.
"""

from __future__ import annotations

import math
import random
import statistics
import time

from rust_geo_booleanop_spark.kernel.pairs import pair_boolean_ops_python
from rust_geo_booleanop_spark.operators.tiling import tile_square_json

from .gen import OPS, Inputs

SHADOW_PAIRS = 12
SHADOW_CLIPS = 48


class Gate:
    def __init__(self, inputs: Inputs):
        self.inputs = inputs
        self.failures: list[str] = []
        self.failed_ops = 0
        self.digest = None
        self.py_pair_ms: list[float] = []
        rng = random.Random(f"shadow:{inputs.workload}:{inputs.seed}")
        if inputs.workload == "tile_clip":
            self.shadow = rng.sample(inputs.clips, min(SHADOW_CLIPS, len(inputs.clips)))
            self.sample_keys = [f"{c.url}#{c.tile_id}" for c in self.shadow]
        else:
            self.shadow = rng.sample(inputs.pairs, min(SHADOW_PAIRS, len(inputs.pairs)))
            self.sample_keys = [p.case_id for p in self.shadow]
        self._expected = None

    def fail(self, n_ops: int, why: str) -> None:
        self.failed_ops += n_ops
        self.failures.append(why)

    @property
    def expected_results(self) -> int:
        e = self.inputs.expected
        return e["clips"] if self.inputs.workload == "tile_clip" else e["results"]

    def check_count(self, what: str, got: int, want: int) -> None:
        if got != want:
            self.fail(max(abs(got - want), 1), f"{what}: {got} rows, expected {want}")

    def check_fused(self, outcome: dict) -> None:
        """One fused job: exact result count, all ok, same digest as the
        run's first job."""
        self.check_count("fused results", outcome["results"], self.expected_results)
        if outcome["not_ok"]:
            self.fail(outcome["not_ok"], f"fused: {outcome['not_ok']} rows not ok")
        if self.digest is None:
            self.digest = (outcome["rows"], outcome["digest"])
        elif (outcome["rows"], outcome["digest"]) != self.digest:
            self.fail(outcome["results"], "fused: output digest differs between jobs")

    def _reference(self):
        """Reference rows of the shadow sample from the pure-Python runner,
        keyed like the program's rows; times each call."""
        if self._expected is not None:
            return self._expected
        ref = {}
        for item in self.shadow:
            t0 = time.perf_counter()
            if self.inputs.workload == "tile_clip":
                (_, gj, n, *_bbox, status), = pair_boolean_ops_python(
                    item.geom_json, tile_square_json(item.tile_id), ("intersection",)
                )
                if status != "ok":
                    gj, n = "", 0
                ref[(item.url, item.tile_id)] = {
                    "op": item.op, "clipped_json": gj, "n_polys": n, "status": status,
                }
            else:
                for op, rj, n, x0, y0, x1, y1, status in pair_boolean_ops_python(
                    item.subject_json, item.clipping_json, OPS
                ):
                    ref[(item.case_id, op)] = {
                        "result_json": rj, "n_polys": n, "status": status,
                        "xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1,
                    }
            self.py_pair_ms.append((time.perf_counter() - t0) * 1e3)
        self._expected = ref
        return ref

    def check_shadow(self, rows: list[dict]) -> None:
        """Byte-exact comparison of the program's sampled rows against the
        reference runner (missing, extra or differing rows all fail)."""
        ref = self._reference()
        if self.inputs.workload == "tile_clip":
            got = {(r["url"], r["tile_id"]): r for r in rows}
        else:
            got = {(r["case_id"], r["op"]): r for r in rows}
        bad = sum(1 for k in got if k not in ref)
        for key, want in ref.items():
            row = got.get(key)
            if row is None or any(not _same(row[c], v) for c, v in want.items()):
                bad += 1
        if bad:
            self.fail(bad, f"shadow: {bad} of {len(ref)} sampled rows differ from the reference")

    def py_pair_median_ms(self) -> float:
        self._reference()
        return statistics.median(self.py_pair_ms) if self.py_pair_ms else 0.0


def _same(got, want) -> bool:
    if isinstance(want, float) and math.isnan(want):
        # the empty result's NaN bbox reaches Spark as NULL: the kernel
        # stage's pandas batches go through Arrow, which maps NaN to null
        return got is None or (isinstance(got, float) and math.isnan(got))
    return got == want
