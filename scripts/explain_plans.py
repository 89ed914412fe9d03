"""Capture physical plans of the headline queries into PLANS.md.

Evidence that the relational shell compiles to the plans we want:
pushed filters + pruned schemas at the scans, broadcast joins for small
dims, whole-stage codegen around JVM expressions, Arrow-batched Python
only where the kernel runs.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def trim(plan: str, max_lines: int = 60) -> str:
    lines = [l.rstrip() for l in plan.splitlines() if l.strip()]
    # drop the verbose per-node field dumps, keep the tree + scan details
    keep = []
    details = ("PushedFilters", "ReadSchema", "Output", "Arguments: [")
    for l in lines:
        if (
            re.match(r"^\(\d+\)", l)
            or l.startswith(("   ", "+-", ":", "*"))
            or "Scan" in l
            or any(d in l for d in details)
        ):
            keep.append(l if len(l) < 200 else l[:200] + " ...")
        if len(keep) >= max_lines:
            keep.append("   ... (truncated)")
            break
    return "\n".join(keep)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from rust_geo_booleanop_spark.plans import get_spark

    spark = get_spark(app_name="explain", master="local[4]", shuffle_partitions=8)
    qs = entrymod.queries()

    picks = [
        ("r01_pricing_summary", "filter pushdown + partial aggregation"),
        ("r03_broadcast_join_dims", "broadcast hash joins for the dim tables"),
        ("r04_sortmerge_join", "big-big join (AQE broadcasts at test SF; SMJ at scale)"),
        ("r05_window_topk", "window top-k"),
        ("g04_pip_join", "cell equi-join + bbox refine before Python PIP"),
        ("g01_boolean_pipeline", "Arrow-batched kernel over the pair join"),
        ("s01_cosine_topk", "JVM higher-order functions (no Python) + window"),
        ("r15_asof_join", "as-of join via union-sort: ONE exchange on the key, no per-key cross product"),
        ("d03_ngram_jaccard", "inverted shingle index: JVM HOF shingles, hash-agg co-occurrence counts"),
        ("s04_ivf_topk", "IVF ANN: broadcast pivots, map-side max_by assignment, probe join"),
        ("g14_tile_cover", "tile cover assignment: pure JVM cover-cells expression + explode + hash-agg (zero Python stages since round 4)"),
        ("h01_heavy_hitters", "two-pass heavy hitters: MG mapInPandas partials, broadcast semi-join verify"),
        ("t08_pii_scrub", "PII redaction: pure JVM regexp inside whole-stage codegen"),
        ("t10_repetition_stats", "repetition signals: JVM HOF 2-grams, explode -> two map-side-partial hash aggs"),
        ("d05_url_dedup", "URL canonicalization: regexp chain in codegen + ONE hash agg on the normalized key"),
        ("d06_boilerplate_lines", "line boilerplate removal: posexplode -> df hash-agg -> left_anti -> ordered rebuild"),
        ("t11_quality_filter", "Gopher quality filter: repetition-stats shuffle + per-row codegen HOF rules"),
        ("t12_stratified_sample", "deterministic stratified sampling: md5-prefix threshold as a pure codegen filter - no shuffle, no UDF"),
        ("g15_tile_pyramid", "tile pyramid rollup: in-row JVM parent array -> ONE explode + hash-agg for all levels"),
        ("d07_incremental_dedup", "bloom incremental dedup: partial bitmaps OR-reduced in a two-level executor tree fold (driver receives ONE row), broadcast word-array probe with O(1) element_at (no Python stage), anti-join verify only on bloom-positives"),
        ("g16_geometry_measures", "geometry measures: nested HOF shoelace folds entirely in codegen - no shuffle, no Python past extraction"),
        ("t13_tfidf_topterms", "tf-idf top terms: ONE tokenizing scan -> tf hash-agg -> df window over terms -> broadcast corpus count -> per-doc top-k window"),
        ("t14_chunking", "training-window chunking: pure per-row codegen (split -> start sequence -> posexplode -> slice/join) - ZERO shuffles"),
        ("t15_decontaminate", "eval-set decontamination: codegen 4-gram explode, BROADCAST join on the gram, one map-side-partial agg"),
        ("t16_lang_balance", "mixture balancing: one exchange on the stratum + broadcast min-count target; literal-target path adds WindowGroupLimit map-side top-K"),
        ("g17_simplify", "Douglas-Peucker simplification: single MapInArrow over the geometry column (the one Arrow stage) - no shuffle"),
        ("t17_line_dedup", "within-doc line dedup: order-preserving aggregate fold in codegen - ZERO shuffles, chunking parallelism = scan parallelism"),
        ("h03_bigram_assoc", "bigram collocations: arrays_zip slice pairs (no per-element re-eval), two map-side-partial hash aggs, TakeOrderedAndProject top-k"),
        ("d09_substring_dup", "exact substring dup stats: md5 window keys, ONE hash-agg + shuffled semi join back (AQE skew-splits hot boilerplate windows), per-doc agg - no suffix array, no all-pairs"),
        ("g18_convex_hull", "convex hull: single MapInArrow monotone-chain stage over the geometry column (the one Arrow stage) - no shuffle"),
        ("h04_vocab_stats", "vocabulary stats: token explode -> (lang, token) map-side-partial hash agg -> tiny per-lang rollup - never a raw-token distinct"),
        ("d10_edit_pairs", "edit-verified near-dup pairs: df-bounded window-key blocking evaluated ONCE (in-row bounded pair expansion, no self-join), DISTINCT id pairs BEFORE text re-fetch, length-gap lower-bound prune, thresholded JVM levenshtein - O(k*len) verify only on candidates"),
        ("h06_zipf_histogram", "Zipf frequency histogram: token explode -> map-side-partial token hash agg -> exact base-2 digit bucket (conv, no floating log) -> ~64-row rollup"),
        ("g19_iou", "IoU per case: ONE kernel MapInArrow (intersection+union rows), JVM region-area fold, hash-agg pivot on case_id - no self-join, no Python past the kernel"),
        ("g20_tile_weights", "tile area weights: JVM cover-cells explode -> kernel-clip MapInArrow -> codegen region-area folds on both branches -> one case_id equi-join; denominator is a per-geometry kernel pass (deterministic, not a shuffle-order sum)"),
        ("d12_containment_pairs", "containment/quote detection: distinct-window relation evaluated once, df-bounded in-row pair expansion, map-side-partial shared-count agg, per-doc counts joined onto the small pair relation"),
        ("g21_shape_stats", "shape statistics: region-area/centroid/perimeter as pure-JVM higher-order-function folds in one codegen stage over the geometry column - no shuffle, no Python"),
        ("h07_hll_sketch", "HLL sketch: token explode -> map-side-partial MAX over at most 2^p register groups - constant-size shuffle regardless of corpus size"),
        ("t18_bm25_search", "BM25 search: ONE scan computes per-doc tf/dl, tiny stats aggregate broadcast back, TakeOrderedAndProject top-k - never a full sort, no window over the corpus"),
        ("s08_pq_topk", "PQ ANN: broadcast stride codebooks, one scan x pivot pass with map-side-partial min(struct) argmin encode (shuffle carries one row per vector), ADC via 4 broadcast code-distance joins, per-query window top-k"),
        ("t19_token_freq_score", "corpus-frequency quality score: ONE explode, vocabulary-sized unigram hash agg (map-side partials), broadcast total, token->unigram equi-join, per-doc integer sum + one division"),
        ("h08_cm_sketch", "count-min sketch: token explode x depth rows -> map-side-partial SUM over at most depth*4096 cells - constant-size shuffle regardless of corpus size"),
        ("g22_compactness", "Polsby-Popper compactness: the g21 codegen folds + one multiply chain and division - still one scan, no shuffle, no Python"),
        ("r23_grouping_sets", "GROUPING SETS: ONE expand + map-side-partial hash agg over the three sets - no per-set re-scan"),
        ("r24_interval_join", "interval join: bounded interval->slot explode, (user, slot) equi-join + exact micros predicate - no BroadcastNestedLoopJoin"),
        ("h09_group_median", "per-group exact median: ONE shuffle on the group key (row_number + count share the partitioning), <=2-rows-per-group tail aggregate"),
        ("g23_focal_heatmap", "focal sum: map-side 9-way explode + one hash agg with map-side partials - no self-join, no window over neighbors"),
        ("h10_skyline", "Pareto frontier: codegen token metrics -> per-partition partial-frontier MapInPandas (batch-incremental fold, working set = frontier size) -> repartition(1) merge of frontiers only - no global sort, no window, nothing quadratic"),
        ("h11_group_quantiles", "per-group exact quantiles: ONE shuffle on the group key (row_number + count share the partitioning), in-row target-rank array filter + explode - non-selected rows vanish map-side"),
        ("t20_oov_rate", "OOV rate: vocab top-K as TakeOrderedAndProject (never a global sort), BROADCAST membership join, map-side-partial per-doc agg"),
        ("t21_sequence_packing", "sequence packing: pure int64 running-sum window per stratum - ONE exchange, no Python"),
        ("s09_hamming_topk", "binary-quantization ANN: sign-bit signature folds in codegen, broadcast query signatures, XOR+POPCNT scoring map-side, one window top-k"),
        ("g24_morton_blocks", "Morton/Z-order keys: pure shift/AND/OR codegen + ONE map-side-partial hash agg on the z-prefix block"),
        ("g26_grid_clusters", "grid hotspot clustering: 8-way offset explode + ONE equi-join on the packed cell key (the focal_sum shape, never a coordinate theta-join) feeding the d04 min-label rounds"),
        ("h13_funnel", "conversion funnel: per-step filtered map-side-partial MIN aggregates + user-key equi-joins - no window over user history"),
        ("r32_latest_per_key", "latest-per-key compaction: rank-1 window planned as WindowGroupLimit - map-side per-partition top-1 BEFORE the exchange"),
        ("h16_gini", "Gini concentration: tie-grouped rank-sum identity - prefix sum via broadcast theta self-join over DISTINCT count values (round 5: zero WindowExec anywhere), never a per-user ranking"),
        ("t25_dup_ngram_stats", "duplicated-ngram coverage: in-row transform(sequence) grams -> (doc, gram) map-side-partial hash agg -> per-doc rollup"),
        ("s12_knn_label_purity", "kNN label purity: broadcast queries, exact cosine window top-k, label equi-join + broadcast query-label join, one agg"),
        ("h20_weighted_median", "weighted median: cumulative and total windows share ONE exchange on the group key; pure-int64 crossing-row filter, no second pass"),
        ("g32_morans_i", "Moran's I: pre-aggregated cell table (map-side partials from raw points), 8-way offset explode + EQUI-join (never a coordinate theta-join), single-row integer reductions, broadcast cross join"),
        ("t26_word_length_profile", "word-length profile: explode -> (lang, len) map-side-partial hash agg + planned two-level distinct; share window rides the AGGREGATED frame, not tokens"),
        ("s13_hamming_histogram", "Hamming histogram: signature sign-bit folds in codegen, broadcast sampled side, XOR+POPCNT scoring map-side, <=65-row hash agg"),
        ("r37_array_functions", "array HOF battery: every column a JVM codegen higher-order function over the in-row token array - ZERO shuffles, scan parallelism end-to-end"),
        ("g33_salted_boolean_pipeline", "salted flagship: hot-case fanout equi-join pair formation (threshold=0 forces the salted path everywhere) - no collect_list aggregation state, kernel over the streamed join"),
        ("r38_salted_join_revenue", "explicit skew salting: broadcast hot-key list, probe-side salt fanout + build-side replicate, equi-join on (key, salt) - hot keys split across factor reducers"),
        ("g36_ring_winding_audit", "ring winding audit: posexplode polygons/rings + shoelace HOF sign folds in codegen after the kernel stage, one tiny hash agg"),
        ("g37_cell_neighbor_occupancy", "neighbor occupancy: 8-offset broadcast cross join + packed-cell EQUI-join (never a coordinate theta join), left join back for zero-degree cells"),
        ("h25_daily_new_users", "cumulative distinct users: per-day aggregates + broadcast theta-join prefix sum over the BOUNDED day relation - no window over users"),
        ("t27_composition_drift", "composition drift: one tokenizing scan -> (source, snapshot) map-side-partial agg -> broadcast snapshot totals join - no window"),
        ("t37_shingle_df_histogram", "shingle document frequencies: d03's JVM HOF shingles -> df hash agg -> fixed CASE buckets -> 4-row rollup"),
        ("s14_hamming_nn_degree", "hamming reverse-NN degree: codegen sign-bit signatures, broadcast sampled queries, XOR+POPCNT scoring, window top-2, two tiny hash aggs"),
        ("d17_dup_savings_by_source", "dedup savings: ONE shuffle on (source, key) shared by the representative window, int64 conditional sums"),
    ]

    out = ["# PLANS — physical plans of headline queries\n"]
    out.append(
        "Generated by `python scripts/explain_plans.py` (sf=%s). What to look\n"
        "for: `PushedFilters`/`ReadSchema` at FileScans (pushdown + pruning),\n"
        "`BroadcastHashJoin` on dim joins, `WholeStageCodegen` spans around\n"
        "JVM expressions, and Python appearing only at the geometry/text\n"
        "stages: `MapInArrow` (the one Arrow stage) for extraction, hull,\n"
        "simplify and every boolean-kernel stage, `ArrowEvalPython`/\n"
        "`MapInPandas` for page synthesis and text work.\n" % sf_dir
    )
    for name, why in picks:
        df = qs[name](spark, sf_dir)
        out.append(f"\n## {name} — {why}\n\n```\n{trim(plan_of(df))}\n```\n")

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
