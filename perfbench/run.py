"""Seeded benchmark of the boolean-op + tiling pipeline.

    python3 perfbench/run.py --workload webpages --seed 1 --seconds 18 --trace 0

Run from the repository root. Workloads: see gen.py and README.md. One run:

1. set-up, once: start a SparkSession on local[<cores>] through the
   package's `get_spark` (only scratch paths added), generate the seeded
   inputs, write them as parquet, and warm the Python workers (which load
   the native kernel);
2. `--trace 0`: WARMUP_JOBS untimed jobs, then fused jobs for `--seconds`
   (at least MIN_JOBS), each checked (row counts, digest repeat; the first
   warm-up's shadow sample byte-exact against the pure-Python reference
   runner). Prints the end-to-end metrics.
   `--trace 1`: the same warm-up and one timed fused job, then the
   layer-by-layer run with spans, status-store totals and the single-core
   ceilings; prints the per-layer metrics and the span list.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Everything the run writes stays under .perfbench_work/ in the
working directory; every process it starts is stopped before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("webpages", "tile_clip")
MIN_JOBS = 3

END_TO_END_UNITS = {
    "job_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB",
    "setup_s": "s", "ok_share": "share",
}


def _isolate_scratch() -> None:
    """Point every temp/scratch location of this process, the JVM and the
    Python workers into WORK, and make the checkout importable by workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _spark_conf() -> dict:
    """Scratch locations only; heap, JIT and every engine knob stay as the
    package's `get_spark` sets them."""
    java_opts = " ".join([
        "-Djava.net.preferIPv4Stack=true",  # get_spark's own option
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    ])
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _warm(batches):
    # Resolves the kernel inside each Python worker (compile/dlopen of the
    # native .so), the lazy cost the first real job would otherwise pay.
    from rust_geo_booleanop_spark.kernel.pairs import resolve_pair_runner

    import pandas as pd

    resolve_pair_runner()
    for pdf in batches:
        yield pd.DataFrame({"id": pdf["id"]})


def _stop(spark, tree) -> None:
    """Stop Spark, then the JVM, then wait for every process under us."""
    from pyspark import SparkContext

    pids = tree.pids()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return f.read().rsplit(b")", 1)[1].split()[0] != b"Z"
    except OSError:
        return False


def setup(workload, seed, cores):
    """Start a SparkSession, generate and write the seeded inputs and warm
    the Python workers; returns (spark, inputs, input_path, seconds)."""
    from rust_geo_booleanop_spark.plans import get_spark

    from perfbench import gen

    path = os.path.join(WORK, "data", workload)  # rewritten by every run
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", extra_conf=_spark_conf()
    )
    t1 = time.perf_counter()
    inputs = gen.generate(workload, seed)
    inputs.write(path, 4 * cores)
    t2 = time.perf_counter()
    spark.range(0, 4 * cores, numPartitions=cores).mapInPandas(_warm, "id long").count()
    t3 = time.perf_counter()
    print(f"set-up: session {t1 - t0:.3f} s, inputs {t2 - t1:.3f} s, workers {t3 - t2:.3f} s",
          file=sys.stderr)
    return spark, inputs, path, t3 - t0


def end_to_end(spark, inputs, path, gate, seconds, tree) -> dict:
    """WARMUP_JOBS untimed jobs, then fused jobs for `seconds` (at least
    MIN_JOBS). Every job is checked; the first warm-up's shadow sample is
    compared byte-exact."""
    from perfbench.jobs import fused_job, warm_up
    from perfbench.probes import RssSampler

    warm_s = warm_up(spark, inputs.workload, path, gate)
    print(f"warm-up: job_s {[round(t, 3) for t in warm_s]}", file=sys.stderr)
    job_s, cpu_s, rss_mb = [], [], []
    with RssSampler(tree) as rss:
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or len(job_s) < MIN_JOBS:
            c0 = tree.cpu_s()["all"]
            rss.start()
            t0 = time.perf_counter()
            outcome = fused_job(spark, inputs.workload, path, gate.sample_keys)
            job_s.append(time.perf_counter() - t0)
            rss_mb.append(rss.stop())
            cpu_s.append(tree.cpu_s()["all"] - c0)
            gate.check_fused(outcome)
    print(f"jobs: job_s {[round(t, 3) for t in job_s]} cpu_s {[round(c, 2) for c in cpu_s]} "
          f"peak_rss_mb {[round(r) for r in rss_mb]}", file=sys.stderr)
    job = statistics.median(job_s)
    return {
        "jobs": len(job_s),
        "job_s": job,
        "rows_per_s": inputs.expected["rows"] / job,
        "cpu_s": statistics.median(cpu_s),
        "peak_rss_mb": statistics.median(rss_mb),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _isolate_scratch()
    from perfbench import traced
    from perfbench.gate import Gate
    from perfbench.jobs import WARMUP_JOBS
    from perfbench.probes import ProcessTree

    cores = len(os.sched_getaffinity(0))
    tree = ProcessTree()
    spark = None
    try:
        spark, inputs, path, setup_s = setup(args.workload, args.seed, cores)
        gate = Gate(inputs)
        if args.trace:
            metrics, spans = traced.run(spark, inputs, path, gate, tree, cores, WORK)
            units, passes = traced.UNITS, traced.CHECKED_PASSES
        else:
            metrics = end_to_end(spark, inputs, path, gate, args.seconds, tree)
            metrics["setup_s"] = setup_s
            units, passes = END_TO_END_UNITS, metrics["jobs"] + WARMUP_JOBS
    finally:
        _stop(spark, tree)
    attempted = gate.expected_results * passes
    failed = min(gate.failed_ops, attempted)
    metrics["ok_share"] = 1.0 - failed / attempted
    if args.trace:
        span_file = os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(span_file), exist_ok=True)
        with open(span_file, "w") as f:
            json.dump(spans, f, indent=1)
        print(json.dumps({"span_file": os.path.relpath(span_file, ROOT), "spans": spans}))
    for why in gate.failures:
        print(f"gate: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": not gate.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0

if __name__ == "__main__":
    sys.exit(main())
