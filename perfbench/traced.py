"""The traced run: per-layer metrics, spans and ceilings.

Layers are the package's public pipeline functions, named after their
modules: `operators.extract` (extract.*), `operators.boolean_join`
`pair_candidates` (pairs.*) and `apply_boolean_ops` (kernel_stage.*),
`kernel.pairs` / `kernel.native` (kernel.*), `operators.tiling`
`assign_tiles` (tiles.*) and `clip_to_tiles` (clip.*), and Spark itself
(spark.*). A layer a workload does not run reports 0.
"""

from __future__ import annotations

import os

from . import ceilings
from .jobs import (
    LayerRunner,
    clip_chain,
    clip_layer_counts,
    clip_rows,
    WARMUP_JOBS,
    fused_job,
    page_chain,
    page_layer_counts,
    result_rows,
    warm_up,
)
from .probes import StatusStore, Tracer

# result-row passes the gate checks in a traced run: the warm-up jobs, the
# timed fused job and the layer-by-layer run
CHECKED_PASSES = WARMUP_JOBS + 2

UNITS = {
    "extract.wall_s": "s",
    "extract.pages_in": "count",
    "extract.geoms_out": "count",
    "extract.dropped": "count",
    "extract.ceiling_s": "s",
    "extract.overhead_x": "x",
    "pairs.wall_s": "s",
    "pairs.rows": "count",
    "pairs.shuffle_write_bytes": "bytes",
    "kernel_stage.wall_s": "s",
    "kernel_stage.rows_out": "count",
    "kernel_stage.not_ok": "count",
    "kernel_stage.worker_cpu_s": "s",
    "kernel_stage.task_max_over_median": "x",
    "kernel_stage.overhead_x": "x",
    "kernel.c_ceiling_s": "s",
    "kernel.pair_p50_us": "us",
    "kernel.pair_p99_us": "us",
    "kernel.py_pair_ms": "ms",
    "kernel.native_declines": "count",
    "kernel.limit_exceeded": "count",
    "tiles.wall_s": "s",
    "tiles.rows_out": "count",
    "tiles.untiled": "count",
    "clip.wall_s": "s",
    "clip.rows": "count",
    "clip.ceiling_s": "s",
    "clip.overhead_x": "x",
    "clip.trivial_share": "share",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "trace.wall_s": "s",
    "trace.fused_job_s": "s",
    "trace.overhead_x": "x",
    "trace.gap_s": "s",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b > 0 else 0.0


def run(spark, inputs, path, gate, tree, cores, work_dir):
    """Returns (metrics, spans) for one traced run."""
    store = StatusStore(spark)
    tracer = Tracer()
    m = dict.fromkeys(UNITS, 0.0)
    layer_dir = os.path.join(work_dir, "layers", inputs.workload)
    runner = LayerRunner(spark, layer_dir, tracer, store, tree)
    clip = inputs.workload == "tile_clip"
    with tracer.span("traced_run"):
        with tracer.span("shadow.python"):
            m["kernel.py_pair_ms"] = gate.py_pair_median_ms()
        with tracer.span("warmup_jobs"):
            warm_up(spark, inputs.workload, path, gate)

        stage0 = store.max_stage_id()
        with tracer.span("fused_job"):
            gate.check_fused(fused_job(spark, inputs.workload, path, gate.sample_keys))
        fused = store.summarize(stage0)
        for k in ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_write_bytes"):
            m[f"spark.{k}"] = fused[k]

        with tracer.span("layers"):
            paths = clip_chain(runner, path) if clip else page_chain(runner, path)
        with tracer.span("verify"):
            if clip:
                _verify_clip(spark, inputs, path, paths, gate, m)
            else:
                _verify_pages(spark, inputs, path, paths, gate, m)

        with tracer.span("ceilings"):
            if not clip:
                with tracer.span("ceiling.extract"):
                    m["extract.ceiling_s"] = ceilings.extract_s(inputs.pages) / cores
            with tracer.span("ceiling.kernel"):
                calls = ceilings.clip_calls(inputs.clips) if clip else ceilings.pair_calls(inputs.pairs)
                k = ceilings.kernel_calls(calls)
    m["kernel.c_ceiling_s"] = k["total_s"] / cores
    m["kernel.pair_p50_us"] = k["p50_us"]
    m["kernel.pair_p99_us"] = k["p99_us"]
    m["kernel.native_declines"] = k["native_declines"]
    m["kernel.limit_exceeded"] = k["limit_exceeded"]

    layers = runner.layers
    for name, layer in layers.items():
        m[f"{name}.wall_s"] = layer["wall_s"]
    if clip:
        m["clip.ceiling_s"] = m["kernel.c_ceiling_s"]
        m["clip.overhead_x"] = _ratio(m["clip.wall_s"], m["clip.ceiling_s"])
    else:
        m["extract.overhead_x"] = _ratio(m["extract.wall_s"], m["extract.ceiling_s"])
        m["pairs.shuffle_write_bytes"] = layers["pairs"]["shuffle_write_bytes"]
        ks = layers["kernel_stage"]
        m["kernel_stage.worker_cpu_s"] = ks["worker_cpu_s"]
        m["kernel_stage.task_max_over_median"] = ks["task_max_over_median"]
        m["kernel_stage.overhead_x"] = _ratio(ks["wall_s"], m["kernel.c_ceiling_s"])

    selfs = tracer.self_times()
    m["trace.wall_s"] = tracer.duration("layers")
    m["trace.fused_job_s"] = tracer.duration("fused_job")
    m["trace.overhead_x"] = _ratio(m["trace.wall_s"], m["trace.fused_job_s"])
    m["trace.gap_s"] = selfs["traced_run"] + selfs["layers"] + selfs["ceilings"]
    spans = [dict(s, self_s=selfs[s["name"]]) for s in tracer.spans]
    return m, spans


def _verify_pages(spark, inputs, path, paths, gate, m):
    e = inputs.expected
    c = page_layer_counts(spark, path, paths)
    m["extract.pages_in"] = c["pages"]
    m["extract.geoms_out"] = c["geoms"]
    m["extract.dropped"] = c["pages"] - c["geoms"]
    m["pairs.rows"] = c["pairs"]
    m["kernel_stage.rows_out"] = c["results"]
    m["kernel_stage.not_ok"] = c["not_ok"]
    m["tiles.rows_out"] = c["tiles"]
    m["tiles.untiled"] = c["untiled"]
    gate.check_count("extract.pages_in", c["pages"], e["pages"])
    gate.check_count("extract.dropped", c["pages"] - c["geoms"], e["dropped"])
    if c["text_mismatch"]:
        gate.fail(c["text_mismatch"] * 4, f"extract: {c['text_mismatch']} urls changed text")
    gate.check_count("pairs.rows", c["pairs"], e["pairs"])
    gate.check_count("kernel_stage.rows_out", c["results"], e["results"])
    if c["not_ok"]:
        gate.fail(c["not_ok"], f"kernel_stage: {c['not_ok']} rows not ok")
    gate.check_count("tiles.rows_out", c["tiles"], gate.digest[0])
    gate.check_shadow(result_rows(spark, paths["results"], gate.sample_keys))


def _verify_clip(spark, inputs, path, paths, gate, m):
    e = inputs.expected
    c = clip_layer_counts(spark, path, paths, {cl.tile_id for cl in inputs.clips})
    m["tiles.rows_out"] = c["tiles"]
    m["tiles.untiled"] = c["untiled"]
    m["clip.rows"] = c["clips"]
    m["clip.trivial_share"] = _ratio(c["trivial"], c["clips"])
    gate.check_count("tiles.rows_out", c["tiles"], e["clips"])
    gate.check_count("clip.rows", c["clips"], e["clips"])
    if c["not_ok"]:
        gate.fail(c["not_ok"], f"clip: {c['not_ok']} rows not ok")
    gate.check_shadow(clip_rows(spark, paths["clips"], gate.sample_keys))

