"""The benchmark's own tests, at a tiny size and without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, run, traced
from perfbench.gate import Gate
from rust_geo_booleanop_spark.kernel.pairs import pair_boolean_ops_python
from rust_geo_booleanop_spark.operators.tiling import tile_square_json

TINY = {"webpages": 40, "tile_clip": 30}
BENCHMARK_JSON = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


@pytest.mark.parametrize("workload", sorted(TINY))
def test_generator_is_deterministic_per_seed(workload):
    a = gen.generate(workload, 7, TINY[workload])
    b = gen.generate(workload, 7, TINY[workload])
    c = gen.generate(workload, 8, TINY[workload])
    assert a.table.equals(b.table)
    assert a.expected == b.expected
    assert not a.table.equals(c.table)


def test_generator_counts_are_exact():
    inp = gen.generate("webpages", 3, 200)
    e = inp.expected
    assert e["pages"] == inp.table.num_rows == len(inp.pages)
    assert e["geoms"] + e["dropped"] == e["pages"]
    assert e["dirty_pages"] > 0 and e["nogeo_pages"] > 0
    assert e["results"] == 4 * e["pairs"] == 4 * len(inp.pairs)
    clip = gen.generate("tile_clip", 3, 20)
    assert clip.expected["clips"] == len(clip.clips) > clip.expected["geoms"]


def test_page_text_follows_the_measured_distribution():
    # sf0.1 documents.parquet: 44-577 characters, median 295, 5% end in "dup"
    inp = gen.generate("webpages", 4, 1000)
    texts = inp.table.column("text").to_pylist()
    lengths = sorted(len(t) for t in texts)
    assert 35 <= lengths[0] and lengths[-1] <= 650
    assert 265 <= lengths[len(lengths) // 2] <= 325
    assert 0.03 < sum(t.endswith(" dup") for t in texts) / len(texts) < 0.07
    assert set(inp.table.column("lang").to_pylist()) == {"en", "zh", "es", "fr", "de"}


def test_emitted_metric_names_match_benchmark_json():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert per_layer == traced.UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS) == set(gen.GENERATORS)


def _reference_rows(gate):
    """What a correct program returns for the gate's shadow sample."""
    rows = []
    for item in gate.shadow:
        if gate.inputs.workload == "tile_clip":
            (_, gj, n, *_bbox, status), = pair_boolean_ops_python(
                item.geom_json, tile_square_json(item.tile_id), ("intersection",)
            )
            rows.append({"url": item.url, "tile_id": item.tile_id, "op": item.op,
                         "clipped_json": gj, "n_polys": n, "status": status})
        else:
            for op, rj, n, x0, y0, x1, y1, status in pair_boolean_ops_python(
                item.subject_json, item.clipping_json, gen.OPS
            ):
                rows.append({"case_id": item.case_id, "op": op, "result_json": rj,
                             "n_polys": n, "xmin": x0, "ymin": y0, "xmax": x1,
                             "ymax": y1, "status": status})
    return rows


@pytest.mark.parametrize("workload,column", [
    ("webpages", "result_json"), ("tile_clip", "clipped_json"),
])
def test_gate_catches_one_corrupted_row(workload, column):
    gate = Gate(gen.generate(workload, 5, TINY[workload]))
    rows = _reference_rows(gate)
    gate.check_shadow(rows)
    assert gate.failures == [] and gate.failed_ops == 0

    corrupted = [dict(r) for r in rows]
    corrupted[len(corrupted) // 2][column] += " "
    gate.check_shadow(corrupted)
    assert gate.failed_ops == 1 and len(gate.failures) == 1


def test_gate_catches_a_missing_row_and_a_changed_digest():
    gate = Gate(gen.generate("webpages", 5, TINY["webpages"]))
    gate.check_shadow(_reference_rows(gate)[1:])
    assert gate.failed_ops == 1

    want = gate.expected_results
    gate.check_fused({"rows": want, "results": want, "not_ok": 0, "digest": "1"})
    gate.check_fused({"rows": want, "results": want, "not_ok": 0, "digest": "2"})
    assert gate.failed_ops == 1 + want
