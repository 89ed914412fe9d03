"""Benchmark harness (driver contract).

Runs the headline pipelines at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <sec>, "unit": "sec", "queries": {...},
   "sf": ..., "pages": N, "pages_per_sec": ...}

The flagship metric is the full boolean-op + tile-assignment pipeline
(documents -> extract -> pair join -> 4 kernel ops -> tile explode),
reported as wall seconds plus derived pages/sec. Set
SPARK_GRAFT_BENCH_REPLICATE to scale the corpus (deterministic page
replication; default 1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _stream_worker(q, size_mb: int, iters: int):
    import numpy as np

    n = size_mb * 1024 * 1024 // 8
    b = np.ones(n)
    c = np.ones(n)
    best = None
    for _ in range(iters):
        t0 = time.perf_counter()
        a = b + 2.5 * c  # STREAM triad: read b, read c, write a
        dt = time.perf_counter() - t0
        del a
        if best is None or dt < best:
            best = dt
    q.put(3 * n * 8 / best / 1e6)


def _stream_mbps(n_proc: int, size_mb: int = 96, iters: int = 3) -> float:
    """Aggregate memory bandwidth (MB/s) of n_proc concurrent STREAM-triad
    workers. The flagship's kernel stage is allocation-heavy Python across
    32 workers, so shared-DRAM contention is the box resource co-tenants
    steal first — and the one a single-threaded sentinel cannot see."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    ps = [ctx.Process(target=_stream_worker, args=(q, size_mb, iters)) for _ in range(n_proc)]
    for p in ps:
        p.start()
    vals = [q.get() for _ in ps]
    for p in ps:
        p.join()
    return round(sum(vals), 0)


def box_noise_probe() -> dict:
    """Cheap (~3 s) co-tenant-noise snapshot, recorded alongside every
    flagship measurement so a slow number of record carries its own
    explanation (round-2 driver bench landed in a noise phase with no
    in-artifact evidence). Calm bands observed on this box (BENCH.md):
    asia/union 0.42-0.60 s single-threaded; stream8 >= ~40000 MB/s."""
    from rust_geo_booleanop_spark.kernel.bench_cases import CRITERION_CASES

    make, op = next((m, o) for n, m, o in CRITERION_CASES if n == "asia/union")
    operands = make()
    sentinel = None
    if operands is not None:
        from rust_geo_booleanop_spark.kernel import boolean_op

        subject, clipping = operands
        for _ in range(2):
            t0 = time.perf_counter()
            boolean_op(subject, clipping, op)
            dt = time.perf_counter() - t0
            if sentinel is None or dt < sentinel:
                sentinel = dt
        sentinel = round(sentinel, 4)
    return {
        "asia_union_s": sentinel,
        "stream8_mbps": _stream_mbps(8),
        "loadavg_1m": round(os.getloadavg()[0], 1),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Default corpus = 8x page replication (40k pages at sf0.1): large
    # enough that per-task scheduling overhead (~0.2-0.35 s/task on this
    # virtualized box) amortizes against real kernel work and pages/sec
    # reflects sustained throughput, not the small-input task-launch floor.
    replicate = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "8"))

    from pyspark.sql import functions as F

    from rust_geo_booleanop_spark.operators import (
        asof_join,
        balanced_sample,
        bigram_collocations,
        bm25_topk,
        cm_sketch,
        hll_sketch,
        pq_topk,
        token_freq_score,
        decontaminate,
        dedup_lines,
        assign_tiles,
        boolean_pipeline,
        convex_hull_geometries,
        cosine_topk,
        apply_boolean_ops,
        exact_dedup,
        exact_quantiles,
        focal_sum,
        funnel_steps,
        grid_clusters,
        group_median,
        group_mode,
        morans_i,
        group_quantiles,
        hamming_histogram,
        hamming_topk,
        latest_snapshot,
        oov_rate,
        pack_sequences,
        token_novelty,
        weighted_median,
        word_length_profile,
        incremental_new_keys,
        interval_join,
        extract_geometries,
        gopher_quality_filter,
        iou_per_case,
        ivf_cosine_topk,
        knn_join,
        length_token_correlation,
        minhash_dedup,
        ngram_jaccard_pairs,
        pair_candidates,
        pareto_frontier,
        point_in_polygon_join,
        remove_boilerplate_lines,
        sessionize,
        shape_stats,
        simplify_geometries,
        stratified_sample,
        tile_area_weights,
        containment_pairs,
        edit_verified_pairs,
        substring_dup_stats,
        tile_pyramid,
        url_dedup,
        vocabulary_stats,
        zipf_histogram,
        zonal_stats_join,
    )
    from rust_geo_booleanop_spark.plans import get_spark, local_cpus
    from rust_geo_booleanop_spark.sources import build_documents

    cpus = str(local_cpus())

    import __spark_entry__ as entrymod

    # Reference criterion parity set (benchmark.rs:18-81): single-core
    # kernel micro-benches, run BEFORE the JVM comes up so Spark startup
    # noise can't contaminate them. Tracked round-over-round.
    kernel_cases = None
    kernel_cases_python = None
    if os.environ.get("SPARK_GRAFT_BENCH_ONLY") != "flagship":
        from rust_geo_booleanop_spark.kernel import resolve_boolean_op
        from rust_geo_booleanop_spark.kernel.bench_cases import run_criterion_cases

        # kernel_cases = the engine-active kernel (native C when available,
        # round 3+); kernel_cases_python = the pure-Python reference kernel,
        # directly comparable with the kernel_cases of rounds 1-2 AND the
        # box-noise calm bands calibrated on it.
        kernel_cases = run_criterion_cases(iters=2, op_fn=resolve_boolean_op())
        kernel_cases_python = run_criterion_cases(iters=2)

    # SPARK_GRAFT_EXECUTORS="N,CORES" switches the bench from local[cpus]
    # threads to a true multi-executor topology: local-cluster[N,CORES,mem]
    # forks N separate executor JVMs (own heap, own Python worker pools,
    # netty shuffle between them) — the literal "N vs 4N executors" shape
    # of the north rule, as close as a single box gets to a real cluster.
    # Memory is per-executor (2 GB/core), exactly the proportional-heap
    # protocol the thread-mode scaling legs use for the whole driver.
    executors = os.environ.get("SPARK_GRAFT_EXECUTORS")
    if executors:
        n_exec, exec_cores = (int(x) for x in executors.split(","))
        mem_mb = 2048 * exec_cores
        cpus = str(n_exec * exec_cores)
        spark = get_spark(
            app_name="bench",
            master=f"local-cluster[{n_exec},{exec_cores},{mem_mb}]",
            shuffle_partitions=2 * n_exec * exec_cores,
            extra_conf={
                "spark.executor.memory": f"{mem_mb}m",
                # executor JVMs spawn their Python workers outside the
                # driver's sys.path bootstrap; point them at the repo.
                "spark.executorEnv.PYTHONPATH": os.path.dirname(
                    os.path.abspath(__file__)
                ),
            },
        )
    else:
        spark = get_spark(app_name="bench", master=f"local[{cpus}]")

    timings: dict[str, float] = {}

    # This box's co-tenant noise swings identical runs up to ~2.5x (steal
    # counter stays near zero — it's memory-bandwidth/frequency contention,
    # invisible to the guest). Warm-up gets steady state; best-of-N timed
    # iterations bounds the noise exposure of the reported number.
    bench_iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2"))

    # Per-op calm bands (upper bound of the observed calm-box wall, sec;
    # BENCH.md "Headline operator timings", calibrated at the default
    # replicate=8 corpus). An op whose best-of-N lands above 2x its band
    # triggers extra re-runs and attaches a sentinel probe to its entry,
    # so every recorded number carries its own noise evidence — rounds 2
    # and 3 each put a phantom hot-box regression on record because only
    # the flagship was defended.
    op_calm_max = {
        "pip_join": 2.4,
        "knn_join": 1.1,
        "zonal_stats": 2.7,
        "asof_join": 4.8,
        "sessionize": 1.3,
        "interval_join": 1.3,
        "group_median": 1.3,
        "focal_sum": 1.0,
        "exact_dedup": 1.2,
        "minhash_dedup": 3.1,
        "ngram_jaccard": 9.0,
        "cosine_topk": 1.5,
        "ivf_topk": 1.9,
        "pq_topk": 3.5,
        "hll_sketch": 1.2,
        "bm25_search": 1.0,
        "token_freq_score": 1.5,
        "cm_sketch": 1.5,
        "boilerplate_lines": 0.5,
        "quality_filter": 0.8,
        "skyline": 1.0,
        "url_dedup": 0.5,
        "exact_quantiles": 2.5,
        "stratified_sample": 0.5,
        "decontaminate": 6.0,
        "lang_balance": 0.6,
        "simplify": 5.0,
        "incremental_dedup": 2.0,
        "tile_pyramid": 1.0,
        "line_dedup": 1.2,
        "bigram_collocations": 1.7,
        "substring_dup": 3.5,
        "edit_pairs": 4.0,
        "zipf_histogram": 1.0,
        "containment_pairs": 4.0,
        "convex_hull": 3.0,
        "shape_stats": 3.0,
        "iou": 5.0,
        "tile_weights": 6.5,
        "vocab_stats": 0.6,
        "length_token_corr": 0.6,
        # round-4 close additions (calm run scripts/bench_runs_r4/
        # close_52op_calm.json; bands ~2x the observed calm wall)
        "group_quantiles": 0.8,
        "group_mode": 0.8,
        "funnel": 1.0,
        "latest_snapshot": 0.6,
        "hamming_topk": 3.0,
        "oov_rate": 0.7,
        "sequence_packing": 0.5,
        "token_novelty": 1.0,
        "grid_clusters": 5.5,
        "morton_blocks": 0.6,
        # round-4 second wave (calm run scripts/bench_runs_r4/
        # close_57op_calm.json; bands ~2x the observed calm wall)
        "weighted_median": 0.6,
        "morans_i": 0.8,
        "word_length_profile": 0.5,
        "hamming_histogram": 2.4,
        "array_functions": 0.4,
        # round-5 staged additions (calm run bench_r5 close; bands ~2x
        # the observed calm wall)
        "salted_flagship": 6.0,
        "winding_audit": 5.0,
        "composition_drift": 0.6,
        "dup_savings": 0.5,
        "hamming_nn_degree": 5.0,
        "cell_neighbors": 0.6,
    }
    if replicate == 8:
        op_calm_max["flagship_boolean_tiling"] = 7.0  # native kernel, r3

    op_evidence: dict[str, dict] = {}

    def _sentinel_reading() -> float:
        """One asia/union pure-Python-kernel timing (calm 0.42-0.60 s) —
        the cheap single-threaded co-tenant-noise sentinel."""
        from rust_geo_booleanop_spark.kernel import boolean_op as _bo
        from rust_geo_booleanop_spark.kernel.bench_cases import CRITERION_CASES

        make, op = next((m, o) for n, m, o in CRITERION_CASES if n == "asia/union")
        subject, clipping = make()
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            _bo(subject, clipping, op)
            dt = time.perf_counter() - t0
            if best is None or dt < best:
                best = dt
        return round(best, 4)

    def timed(name, fn, base_iters=None, max_iters=6, samples_out=None):
        """Noise-defended timing for EVERY recorded op. Sample until the
        floor is corroborated (two samples within 10 % of the best) AND
        the best sits inside 2x the op's calm band, or max_iters is
        spent. On a calm box this costs exactly base_iters runs; a best
        that still lands outside its band goes on record with its own
        sentinel probe, so the artifact proves whether it was the box or
        the code."""
        fn()  # untimed warm-up: steady-state worker pool + JIT'd codegen
        base = max(2, base_iters if base_iters is not None else bench_iters)
        calm_max = op_calm_max.get(name)
        samples: list[float] = []
        out = None
        while len(samples) < max_iters:
            t0 = time.time()
            out = fn()
            samples.append(round(time.time() - t0, 3))
            if len(samples) >= base:
                s = sorted(samples)
                corroborated = s[1] <= s[0] * 1.10
                in_band = calm_max is None or s[0] <= 2.0 * calm_max
                if corroborated and in_band:
                    break
                # Hot box: once the floor is corroborated with two extra
                # attempts spent, more re-runs can't prove anything the
                # attached sentinel probe doesn't — stop burning time.
                if corroborated and len(samples) >= base + 2:
                    break
        best = min(samples)
        timings[name] = best
        evidence: dict = {"samples": samples}
        if calm_max is not None:
            evidence["calm_max_s"] = calm_max
            if best > 2.0 * calm_max:
                evidence["sentinel_after"] = _sentinel_reading()
                evidence["probe"] = box_noise_probe()
        op_evidence[name] = evidence
        if samples_out is not None:
            samples_out.extend(samples)
        return out

    # Warm the JVM + ALL Python workers (one task per core, through the
    # same import-heavy code path) so the measured run isn't dominated by
    # interpreter spawn + module imports on 32 cold workers.
    n_workers = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    # Build the native kernel once on the driver (content-hashed .so)
    # before workers fork: they then just dlopen it.
    from rust_geo_booleanop_spark.kernel import resolve_boolean_op as _resolve
    _resolve()

    def _warm(batches):
        import pandas as _pd  # noqa: F401
        from rust_geo_booleanop_spark.kernel import resolve_boolean_op as _r
        _r()  # dlopen the native kernel in every pooled worker
        for b in batches:
            yield b

    spark.range(n_workers * 4).repartition(n_workers * 2).mapInPandas(
        _warm, schema="id long"
    ).count()

    # --- flagship: boolean ops + tile assignment ---
    docs = build_documents(spark, sf_dir, replicate=replicate)
    pages = docs.count()

    def flagship():
        geoms = extract_geometries(docs)
        tiled = assign_tiles(boolean_pipeline(geoms))
        return tiled.count()

    # timed() runs each op once untimed first. The pipelines chain up to
    # ~3 Arrow evals per task, each leasing its own Python worker
    # concurrently, so peak worker demand is ~3x cores; the warm-up
    # iteration grows the reused-worker pool to that demand (fresh forks
    # pay contended pandas/numpy imports, measured 1-3.5 s each). Timing
    # the steady state measures the engine, not the fork storm — on a real
    # cluster the pool persists across jobs anyway.
    probe_before = box_noise_probe()
    flagship_samples: list[float] = []
    n_tiled = timed(
        "flagship_boolean_tiling", flagship, base_iters=bench_iters,
        samples_out=flagship_samples,
    )
    probe_after = box_noise_probe()
    section_sentinels: dict[str, float] = {}
    noise = {
        "flagship_samples": flagship_samples,
        "probe_before": probe_before,
        "probe_after": probe_after,
        "ops": op_evidence,
        "section_sentinels": section_sentinels,
        "calm_bands": {"asia_union_s": [0.42, 0.60], "stream8_mbps_min": 40000},
    }

    if os.environ.get("SPARK_GRAFT_BENCH_ONLY") == "flagship":
        print(json.dumps({
            "metric": "flagship_boolean_tiling_wall_sec",
            "value": timings["flagship_boolean_tiling"],
            "unit": "sec", "queries": timings, "sf": sf_dir, "cpus": n_workers,
            "executors": executors, "pages": pages, "tiled_rows": n_tiled,
            "pages_per_sec": round(pages / timings["flagship_boolean_tiling"], 1),
            "noise": noise,
        }))
        spark.stop()
        return

    # --- spatial joins ---
    section_sentinels["spatial"] = _sentinel_reading()
    points = entrymod._points(spark, sf_dir)
    zones = entrymod._zones(spark)
    timed("pip_join", lambda: point_in_polygon_join(points, zones).count())
    queries_df = spark.createDataFrame(
        entrymod._KNN_QUERIES, "query_id int, qx double, qy double"
    )
    timed("knn_join", lambda: knn_join(points, queries_df, k=5).count())
    timed("zonal_stats", lambda: zonal_stats_join(points, zones).count())

    # --- temporal ops over the events stream ---
    section_sentinels["temporal"] = _sentinel_reading()
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    timed(
        "asof_join",
        lambda: asof_join(
            purchases, clicks,
            left_key="user_id", right_key="user_id",
            left_time="ts", right_time="ts",
            right_cols=["event_id"], right_tie="event_id",
        ).count(),
    )
    timed(
        "sessionize",
        lambda: sessionize(events.select("user_id", "ts", "event_id")).count(),
    )
    incidents = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"), "user_id",
        F.col("ts").alias("t_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t_end"),
    )
    timed(
        "interval_join",
        lambda: interval_join(
            events.select("event_id", "user_id", "ts"), incidents,
            point_time="ts", start_col="t_start", end_col="t_end",
            key_col="user_id", bucket_seconds=1800,
        ).count(),
    )
    timed(
        "group_median",
        lambda: group_median(
            events.select("event_type", "value", "event_id"),
            "event_type", "value", "event_id",
        ).count(),
    )
    grid_cells = (
        events.select(
            F.expr("(event_id % 997) DIV 50").alias("gx"),
            F.expr("((event_id * 31) % 983) DIV 50").alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    timed("focal_sum", lambda: focal_sum(grid_cells, radius=1).count())

    # --- training-data pipeline ops ---
    section_sentinels["dedup"] = _sentinel_reading()
    documents = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed("exact_dedup", lambda: exact_dedup(documents).count())
    timed("minhash_dedup", lambda: minhash_dedup(documents, threshold=0.7).count())
    timed(
        "ngram_jaccard",
        lambda: ngram_jaccard_pairs(documents, threshold=0.5).count(),
    )
    # The driver testdata is ONE parquet file per table; a real corpus
    # arrives in many splits. Repartition once at read so the similarity
    # ops see a cluster-shaped source instead of a single-task scan (the
    # ops themselves deliberately do NOT repartition the corpus — at scale
    # that shuffle would carry every embedding).
    section_sentinels["similarity"] = _sentinel_reading()
    embeddings = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        n_workers
    )
    emb_queries = embeddings.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    timed("cosine_topk", lambda: cosine_topk(embeddings, emb_queries, k=10).count())
    timed(
        "ivf_topk",
        lambda: ivf_cosine_topk(embeddings, emb_queries, k=10, nprobe=2, stride=37).count(),
    )
    timed(
        "pq_topk",
        lambda: pq_topk(embeddings, emb_queries, k=10, m=8, stride=11).count(),
    )

    # --- text cleaning / filtering ops (round 4) ---
    # Same deterministic synthetic structure as the d05/d06 contract
    # queries: the single-line corpus gets a multi-line page shape and a
    # messy URL so the ops exercise their real plans (DF agg + anti-join;
    # regexp chain + hash agg) rather than degenerate 1-line inputs.
    section_sentinels["text"] = _sentinel_reading()
    multiline = documents.withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.lit("please accept our cookie policy"),
            F.col("text"),
            F.concat(F.lit("(c) "), F.col("source"), F.lit(" media group")),
            F.concat(
                F.lit("ref "), (F.col("doc_id") - F.col("doc_id") % 2).cast("string")
            ),
        ),
    )
    timed(
        "boilerplate_lines",
        lambda: remove_boilerplate_lines(multiline, min_docs=3).count(),
    )
    timed(
        "quality_filter",
        lambda: gopher_quality_filter(
            documents, min_tokens=40, min_stopwords=1, min_distinct_frac=0.45
        ).count(),
    )
    doc_toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    doc_metrics = documents.select(
        "doc_id",
        F.size(doc_toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(doc_toks)).cast("long").alias("n_distinct"),
    )
    timed(
        "skyline",
        lambda: pareto_frontier(
            doc_metrics, "n_tokens", "n_distinct", minimize_x=True
        ).count(),
    )
    urls = documents.withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.col("source"),
            F.lit(".Example.COM/page/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("/?utm_source=feed&ref="),
            F.col("doc_id").cast("string"),
        ),
    )
    timed("url_dedup", lambda: url_dedup(urls).count())

    # --- sketch / sampling ops (round 4) ---
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    timed(
        "exact_quantiles",
        lambda: exact_quantiles(
            lineitem, "l_extendedprice", [0.25, 0.5, 0.75, 0.9, 0.99]
        ).count(),
    )
    timed(
        "stratified_sample",
        lambda: stratified_sample(
            documents.select("doc_id", "lang"),
            "doc_id",
            "lang",
            {"en": 0.5, "de": 0.25, "fr": 0.1},
            default_rate=0.05,
        ).count(),
    )
    from rust_geo_booleanop_spark.operators.dedup import normalized_text_key

    keyed_docs = documents.select(
        "doc_id", normalized_text_key("text").alias("key")
    )
    prior_keys = keyed_docs.filter(F.col("doc_id") % 3 == 0).select("key")
    timed(
        "incremental_dedup",
        lambda: incremental_new_keys(keyed_docs, prior_keys, "key").count(),
    )
    # pyramid over a synthetic tiled frame (pure JVM input) so the number
    # isolates the rollup operator, not a re-run of the kernel pipeline
    from rust_geo_booleanop_spark.functions.cells import cell_id_expr

    pyramid_input = spark.range(max(200_000, pages * 2)).select(
        cell_id_expr(F.col("id") % 1000, F.col("id") % 97, 4).alias("tile_id")
    )
    timed(
        "tile_pyramid",
        lambda: tile_pyramid(pyramid_input, from_level=4, to_level=0).count(),
    )
    eval_docs = documents.filter(F.col("doc_id") % 41 == 0)
    train_docs = documents.filter(F.col("doc_id") % 41 != 0)
    timed(
        "decontaminate",
        lambda: decontaminate(train_docs, eval_docs, n=4).count(),
    )
    timed(
        "lang_balance",
        lambda: balanced_sample(
            documents.select("doc_id", "lang"), "lang", "doc_id"
        ).count(),
    )
    # re-runs extraction so the leg is self-contained; the DP stage is
    # the dominant term (extraction alone is the g16-style map pass)
    timed(
        "simplify",
        lambda: simplify_geometries(
            extract_geometries(docs).select("case_id", "role", "geom_json"),
            tol=2.0,
        ).count(),
    )
    timed(
        "line_dedup",
        lambda: dedup_lines(documents).agg(
            F.sum("n_lines_out")
        ).collect(),
    )
    timed(
        "bigram_collocations",
        lambda: bigram_collocations(documents, min_count=5, k=20).count(),
    )
    timed(
        "substring_dup",
        lambda: substring_dup_stats(documents, window=8)
        .agg(F.sum("n_dup_windows"))
        .collect(),
    )
    timed(
        "edit_pairs",
        lambda: edit_verified_pairs(documents, window=8, max_dist=6)
        .count(),
    )
    timed(
        "containment_pairs",
        lambda: containment_pairs(documents, window=8, threshold=0.8).count(),
    )
    timed(
        "zipf_histogram",
        lambda: zipf_histogram(documents).count(),
    )
    timed(
        "vocab_stats",
        lambda: vocabulary_stats(documents).count(),
    )
    timed(
        "hll_sketch",
        lambda: hll_sketch(documents).count(),
    )
    timed(
        "token_freq_score",
        lambda: token_freq_score(documents).agg(F.sum("freq_sum")).collect(),
    )
    timed(
        "cm_sketch",
        lambda: cm_sketch(documents).agg(F.sum("cnt")).collect(),
    )
    timed(
        "bm25_search",
        lambda: bm25_topk(documents, terms=["dup", "join", "window"], k=10).count(),
    )
    timed(
        "length_token_corr",
        lambda: length_token_correlation(documents).count(),
    )
    # re-runs extraction like `simplify` so the leg is self-contained
    timed(
        "iou",
        lambda: iou_per_case(
            apply_boolean_ops(
                pair_candidates(extract_geometries(docs)),
                ops=("intersection", "union"),
            )
        )
        .agg(F.sum("iou"))
        .collect(),
    )
    # re-runs extraction too; level 6 = the g20 grid (~10 tiles/subject)
    timed(
        "tile_weights",
        lambda: tile_area_weights(
            extract_geometries(docs).filter(F.col("role") == "subject"),
            level=6,
        )
        .agg(F.sum("weight"))
        .collect(),
    )
    timed(
        "convex_hull",
        lambda: convex_hull_geometries(
            extract_geometries(docs).select("case_id", "role", "geom_json")
        )
        .agg(F.sum("n_hull_vertices"))
        .collect(),
    )
    # pure-JVM shoelace/centroid/perimeter folds; extraction dominates
    timed(
        "shape_stats",
        lambda: shape_stats(
            extract_geometries(docs).select("case_id", "role", "geom_json")
        )
        .agg(F.sum("region_area"), F.sum("perimeter"))
        .collect(),
    )

    # --- round-4 late additions (staged for the round-5 contract) ---
    section_sentinels["staged"] = _sentinel_reading()
    timed(
        "group_quantiles",
        lambda: group_quantiles(
            events.select("event_type", "value", "event_id"),
            "event_type", "value", "event_id", [25, 50, 75, 90],
        ).count(),
    )
    timed(
        "group_mode",
        lambda: group_mode(
            events.select("user_id", "event_type"), "user_id", "event_type"
        ).count(),
    )
    timed(
        "funnel",
        lambda: funnel_steps(
            events.select("user_id", "ts", "event_type"),
            ["view", "click", "purchase"],
        ).count(),
    )
    timed(
        "latest_snapshot",
        lambda: latest_snapshot(
            events.select("user_id", "ts", "event_id", "event_type", "value"),
            "user_id", "ts", "event_id",
        ).count(),
    )
    timed(
        "hamming_topk",
        lambda: hamming_topk(embeddings, emb_queries, k=10, dim=64).count(),
    )
    timed("oov_rate", lambda: oov_rate(documents, vocab_size=1000).count())
    timed(
        "sequence_packing",
        lambda: pack_sequences(documents, capacity=2048).count(),
    )
    timed("token_novelty", lambda: token_novelty(documents).count())
    timed(
        "grid_clusters",
        lambda: grid_clusters(grid_cells, min_val=25).count(),
    )
    from rust_geo_booleanop_spark.functions import morton_expr

    timed(
        "morton_blocks",
        lambda: events.select(
            morton_expr(F.col("event_id") % 997, (F.col("event_id") * 31) % 983)
            .alias("m")
        )
        .groupBy(F.shiftright(F.col("m"), 10))
        .count()
        .count(),
    )

    # --- round-4 second-wave staged additions ---
    timed(
        "weighted_median",
        lambda: weighted_median(
            events.select(
                "event_type", "value", "event_id",
                (F.lit(1) + F.col("event_id") % 5).alias("w"),
            ),
            "event_type", "value", "w", "event_id",
        ).count(),
    )
    timed("morans_i", lambda: morans_i(grid_cells, count_col="n").count())
    timed(
        "word_length_profile",
        lambda: word_length_profile(documents).count(),
    )
    timed(
        "hamming_histogram",
        lambda: hamming_histogram(embeddings, sample_mod=5).count(),
    )
    timed(
        "array_functions",
        lambda: documents.select(
            "doc_id",
            F.aggregate(
                F.filter(
                    F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
                    lambda x: x != "",
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + F.length(x),
            ).alias("total_chars"),
        )
        .agg(F.sum("total_chars"))
        .collect(),
    )

    # --- round-5 staged additions (round-6 contract; the callables come
    # from the contract module so bench and gate share ONE definition —
    # the dict union keeps the lookup working after the round-6
    # promotion empties STAGED_QUERIES) ---
    contract_qs = {**entrymod.queries(), **entrymod.STAGED_QUERIES}
    timed(
        "salted_flagship",
        lambda: contract_qs["g33_salted_boolean_pipeline"](spark, sf_dir).count(),
    )
    timed(
        "winding_audit",
        lambda: contract_qs["g36_ring_winding_audit"](spark, sf_dir).count(),
    )
    timed(
        "composition_drift",
        lambda: contract_qs["t27_composition_drift"](spark, sf_dir).count(),
    )
    timed(
        "dup_savings",
        lambda: contract_qs["d17_dup_savings_by_source"](spark, sf_dir).count(),
    )
    timed(
        "hamming_nn_degree",
        lambda: contract_qs["s14_hamming_nn_degree"](spark, sf_dir).count(),
    )
    timed(
        "cell_neighbors",
        lambda: contract_qs["g37_cell_neighbor_occupancy"](spark, sf_dir).count(),
    )

    flagship_sec = timings["flagship_boolean_tiling"]
    result = {
        "metric": "flagship_boolean_tiling_wall_sec",
        "value": flagship_sec,
        "unit": "sec",
        "queries": timings,
        "kernel_cases": kernel_cases,
        "kernel_cases_python": kernel_cases_python,
        "noise": noise,
        "sf": sf_dir,
        "cpus": n_workers,
        "executors": executors,
        "pages": pages,
        "tiled_rows": n_tiled,
        "pages_per_sec": round(pages / flagship_sec, 1) if flagship_sec > 0 else None,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
