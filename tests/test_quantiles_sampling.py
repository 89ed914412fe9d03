"""Exact distributed quantiles + deterministic stratified sampling."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rust_geo_booleanop_spark.operators import (
    exact_quantiles,
    group_median,
    group_mode,
    group_quantiles,
    sample_predicate,
    stratified_sample,
)

QS = [0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]


def brute_quantiles(values, qs):
    """quantile_disc semantics: element at 1-based rank max(1, ceil(q*n))."""
    s = sorted(values)
    n = len(s)
    return {q: s[min(n, max(1, math.ceil(q * n))) - 1] for q in qs}


class TestExactQuantiles:
    def test_matches_brute_force_uniformish(self, spark):
        df = spark.range(977).select(
            (((F.col("id") * 37) % 977) / F.lit(7.0)).alias("x")
        )
        vals = [r.x for r in df.collect()]
        got = {r.q: r.value for r in exact_quantiles(df, "x", QS, bins=16, max_tail=50).collect()}
        assert got == brute_quantiles(vals, QS)

    def test_small_bins_force_recursion(self, spark):
        # bins=2 + max_tail=10 forces several narrowing rounds
        df = spark.range(2000).select((F.col("id") % 503).cast("double").alias("x"))
        vals = [r.x for r in df.collect()]
        got = {r.q: r.value for r in exact_quantiles(df, "x", [0.5, 0.9], bins=2, max_tail=10).collect()}
        assert got == brute_quantiles(vals, [0.5, 0.9])

    def test_massive_tie_base_case(self, spark):
        # one value holds 90% of the mass: the tie bucket exceeds max_tail
        # at every width, so the ULP-wide tie histogram must resolve it
        df = spark.range(1000).select(
            F.when(F.col("id") < 900, F.lit(5.0))
            .otherwise(F.col("id").cast("double"))
            .alias("x")
        )
        vals = [r.x for r in df.collect()]
        got = {r.q: r.value for r in exact_quantiles(df, "x", QS, bins=4, max_tail=20).collect()}
        assert got == brute_quantiles(vals, QS)

    def test_all_equal_column(self, spark):
        df = spark.range(100).select(F.lit(3.25).alias("x"))
        got = {r.q: r.value for r in exact_quantiles(df, "x", [0.1, 0.9], bins=8, max_tail=5).collect()}
        assert got == {0.1: 3.25, 0.9: 3.25}

    def test_nulls_excluded(self, spark):
        df = spark.range(10).select(
            F.when(F.col("id") % 2 == 0, F.col("id").cast("double")).alias("x")
        )
        vals = [r.x for r in df.collect() if r.x is not None]
        got = {r.q: r.value for r in exact_quantiles(df, "x", [0.5], bins=4, max_tail=3).collect()}
        assert got == brute_quantiles(vals, [0.5])

    def test_nan_excluded_and_terminates(self, spark):
        """NaN used to become the max hint (Spark sorts NaN greatest) and
        poison every histogram width into NaN arithmetic — the narrowing
        loop then never made progress. NaN is now excluded like null."""
        df = spark.range(100).select(
            F.when(F.col("id") < 97, F.col("id").cast("double"))
            .otherwise(F.lit(float("nan")))
            .alias("x")
        )
        got = {
            r.q: r.value
            for r in exact_quantiles(df, "x", [0.25, 0.5, 1.0], bins=8, max_tail=5).collect()
        }
        vals = [float(i) for i in range(97)]
        assert got == brute_quantiles(vals, [0.25, 0.5, 1.0])

    def test_negative_and_mixed_range(self, spark):
        df = spark.range(500).select(
            ((F.col("id") % 101) - F.lit(50.0)).alias("x")
        )
        vals = [r.x for r in df.collect()]
        got = {r.q: r.value for r in exact_quantiles(df, "x", QS, bins=7, max_tail=25).collect()}
        assert got == brute_quantiles(vals, QS)

    def test_bucket_boundary_ulp_consistency(self, spark):
        """Adversarial FP boundary: x's count-pass bucket is k (the floor
        expression rounds up across the boundary) while x < lo + k*width
        as floats — membership by boundary VALUES would silently drop x
        and shift the selected rank. Membership must use the exact bucket
        expression (found by randomized search; failed before the fix)."""
        lo = -352.3344703336753
        hi = 401.9122484396603
        x = 24.788889052992484  # floor((x-lo)/w)==1 but x < lo+1*w at bins=2
        w = (hi - lo) / 2
        assert math.floor((x - lo) / w) == 1 and x < lo + w  # the pathology
        df = spark.createDataFrame([(lo,), (x,), (hi,)], "v double")
        got = {r.q: r.value for r in exact_quantiles(df, "v", [0.5], bins=2, max_tail=10).collect()}
        assert got == {0.5: x}

    def test_property_random_floats_match_brute_force(self, spark):
        """Seeded random corpora (clustered + uniform + duplicated values,
        random bins/max_tail) vs brute force — a broad FP-pathology net on
        top of the targeted boundary test."""
        import random

        rng = random.Random(20260819)
        for trial in range(4):
            n = rng.randrange(50, 400)
            scale = 10 ** rng.randrange(-3, 6)
            base = rng.uniform(-1000, 1000)
            vals = []
            for _ in range(n):
                if rng.random() < 0.3:  # duplicates / ties
                    vals.append(base)
                else:
                    vals.append(base + rng.uniform(0, 1) * scale)
            bins = rng.choice([2, 3, 7, 16, 64])
            max_tail = rng.choice([5, 25])
            df = spark.createDataFrame([(v,) for v in vals], "v double")
            qs = [0.01, 0.25, 0.5, 0.9, 1.0]
            got = {
                r.q: r.value
                for r in exact_quantiles(df, "v", qs, bins=bins, max_tail=max_tail).collect()
            }
            assert got == brute_quantiles(vals, qs), (trial, bins, max_tail)

    def test_empty_is_empty_result(self, spark):
        """An all-NULL (hence empty after the missing-data filter) column
        yields an empty (q, value) relation, not an exception — empty
        relations are routine mid-plan at scale and must flow through."""
        df = spark.range(5).select(F.lit(None).cast("double").alias("x"))
        out = exact_quantiles(df, "x", [0.5])
        assert out.columns == ["q", "value"]
        assert out.count() == 0


class TestStratifiedSample:
    def _docs(self, spark):
        return spark.range(2000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 3 == 0, "en")
            .when(F.col("id") % 3 == 1, "de")
            .otherwise("fr")
            .alias("lang"),
        )

    def test_deterministic_across_runs_and_partitioning(self, spark):
        docs = self._docs(spark)
        rates = {"en": 0.5, "de": 0.25}
        a = {r.doc_id for r in stratified_sample(docs, "doc_id", "lang", rates).collect()}
        b = {
            r.doc_id
            for r in stratified_sample(
                docs.repartition(13), "doc_id", "lang", rates
            ).collect()
        }
        assert a == b and a

    def test_rates_converge(self, spark):
        docs = self._docs(spark)
        out = stratified_sample(
            docs, "doc_id", "lang", {"en": 0.5, "de": 0.25}, default_rate=0.1
        )
        counts = {r.lang: r.cnt for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
        # ~667 per stratum; md5 uniformity keeps each within a loose band
        assert 0.4 <= counts["en"] / 667 <= 0.6
        assert 0.17 <= counts["de"] / 667 <= 0.33
        assert 0.05 <= counts.get("fr", 0) / 666 <= 0.16

    def test_nested_rates_are_monotone(self, spark):
        """Lower rate selects a SUBSET of a higher rate's rows (same hash,
        lower threshold) — the property mixing ablations rely on."""
        docs = self._docs(spark)
        small = {r.doc_id for r in stratified_sample(docs, "doc_id", "lang", {}, default_rate=0.1).collect()}
        big = {r.doc_id for r in stratified_sample(docs, "doc_id", "lang", {}, default_rate=0.5).collect()}
        assert small <= big

    def test_edge_rates(self, spark):
        docs = self._docs(spark)
        assert stratified_sample(docs, "doc_id", "lang", {}, default_rate=0.0).count() == 0
        assert stratified_sample(docs, "doc_id", "lang", {}, default_rate=1.0).count() == 2000

    def test_predicate_matches_duckdb_hash(self, spark):
        """The md5-prefix rule is engine-portable: DuckDB computes the
        identical member set (the t12 oracle's foundation)."""
        import duckdb

        docs = self._docs(spark)
        kept = sorted(
            r.doc_id
            for r in docs.filter(sample_predicate(F.col("doc_id"), 0.3)).collect()
        )
        expected = sorted(
            r[0]
            for r in duckdb.sql(
                "SELECT i FROM range(2000) t(i) "
                "WHERE substr(md5(CAST(i AS VARCHAR)), 1, 8) < '4ccccccc'"
            ).fetchall()
        )
        assert kept == expected


class TestBalancedSample:
    def _skewed(self, spark):
        rows = [(i, "en" if i % 10 < 6 else ("de" if i % 10 < 9 else "fr"))
                for i in range(200)]
        return spark.createDataFrame(rows, "doc_id long, lang string")

    def test_uniform_mixture_at_min_count(self, spark):
        from rust_geo_booleanop_spark.operators import balanced_sample

        df = self._skewed(spark)   # en 120, de 60, fr 20
        got = balanced_sample(df, "lang", "doc_id").collect()
        by = {}
        for r in got:
            by.setdefault(r.lang, []).append(r)
        assert {k: len(v) for k, v in by.items()} == {"en": 20, "de": 20, "fr": 20}
        # ranks are 1..target dense within each stratum
        for rows in by.values():
            assert sorted(r.sample_rank for r in rows) == list(range(1, 21))

    def test_deterministic_across_partitioning(self, spark):
        from rust_geo_booleanop_spark.operators import balanced_sample

        df = self._skewed(spark)
        a = {(r.doc_id, r.sample_rank)
             for r in balanced_sample(df, "lang", "doc_id").collect()}
        b = {(r.doc_id, r.sample_rank)
             for r in balanced_sample(df.repartition(13), "lang", "doc_id").collect()}
        assert a == b

    def test_explicit_target_literal(self, spark):
        from rust_geo_booleanop_spark.operators import balanced_sample

        df = self._skewed(spark)
        got = balanced_sample(df, "lang", "doc_id", target=5).collect()
        counts = {}
        for r in got:
            counts[r.lang] = counts.get(r.lang, 0) + 1
        assert counts == {"en": 5, "de": 5, "fr": 5}
        # the literal-target rows are a prefix of the data-dependent ones
        auto = {(r.lang, r.doc_id) for r in
                balanced_sample(df, "lang", "doc_id").collect()
                if r.sample_rank <= 5}
        assert {(r.lang, r.doc_id) for r in got} == auto


class TestGroupMedian:
    def _run(self, spark, rows):
        df = spark.createDataFrame(rows, "g string, v double, id long")
        out = group_median(df, "g", "v", "id")
        return {r.g: (r.median, r.n_rows) for r in out.collect()}

    def test_odd_group_is_exact_middle(self, spark):
        rows = [("a", 5.0, 0), ("a", 1.0, 1), ("a", 3.0, 2)]
        assert self._run(spark, rows) == {"a": (3.0, 3)}

    def test_even_group_is_mean_of_two_middles(self, spark):
        rows = [("a", 1.0, 0), ("a", 2.0, 1), ("a", 10.0, 2), ("a", 100.0, 3)]
        # (2.0 + 10.0) / 2.0 with the exact op order
        assert self._run(spark, rows) == {"a": ((2.0 + 10.0) / 2.0, 4)}

    def test_single_row_group(self, spark):
        rows = [("a", 7.25, 0), ("b", -1.5, 1)]
        assert self._run(spark, rows) == {"a": (7.25, 1), "b": (-1.5, 1)}

    def test_ties_at_boundary_are_stable(self, spark):
        # four equal central values: either pick gives the same sum
        rows = [("a", 1.0, 0), ("a", 2.0, 1), ("a", 2.0, 2), ("a", 9.0, 3)]
        assert self._run(spark, rows) == {"a": (2.0, 4)}

    def test_null_values_are_excluded(self, spark):
        rows = [("a", None, 0), ("a", 2.0, 1), ("a", None, 2), ("a", 4.0, 3)]
        df = spark.createDataFrame(rows, "g string, v double, id long")
        out = {r.g: (r.median, r.n_rows)
               for r in group_median(df, "g", "v", "id").collect()}
        assert out == {"a": ((2.0 + 4.0) / 2.0, 2)}

    def test_matches_statistics_median_random(self, spark):
        import random
        import statistics

        rng = random.Random(9)
        rows = []
        expected = {}
        for g in ("p", "q", "r"):
            vals = [round(rng.uniform(-100, 100), 2) for _ in range(rng.randrange(1, 40))]
            rows += [(g, v, i) for i, v in enumerate(vals)]
            sv = sorted(vals)
            n = len(sv)
            expected[g] = (
                sv[n // 2] if n % 2 else (sv[n // 2 - 1] + sv[n // 2]) / 2.0,
                n,
            )
        got = self._run(spark, rows)
        assert got == expected


class TestGroupQuantiles:
    def _run(self, spark, rows, pcts):
        df = spark.createDataFrame(rows, "g string, v double, id long")
        out = group_quantiles(df, "g", "v", "id", pcts)
        return {(r.g, r.pct): (r.value, r.n_rows) for r in out.collect()}

    def test_matches_rank_definition_random(self, spark):
        import math
        import random

        rng = random.Random(17)
        pcts = [1, 25, 50, 75, 90, 100]
        rows, expected = [], {}
        for g in ("p", "q", "r", "s"):
            vals = [round(rng.uniform(-50, 50), 3) for _ in range(rng.randrange(1, 60))]
            rows += [(g, v, i) for i, v in enumerate(vals)]
            sv = sorted(vals)
            n = len(sv)
            for p in pcts:
                rank = max(1, math.ceil(p * n / 100))
                expected[(g, p)] = (sv[rank - 1], n)
        assert self._run(spark, rows, pcts) == expected

    def test_single_row_group_all_pcts(self, spark):
        rows = [("a", 3.5, 0)]
        got = self._run(spark, rows, [1, 50, 100])
        assert got == {("a", 1): (3.5, 1), ("a", 50): (3.5, 1), ("a", 100): (3.5, 1)}

    def test_nulls_excluded(self, spark):
        rows = [("a", None, 0), ("a", 1.0, 1), ("a", 9.0, 2)]
        got = self._run(spark, rows, [50, 100])
        assert got == {("a", 50): (1.0, 2), ("a", 100): (9.0, 2)}

    def test_duplicate_ranks_emit_one_row_per_pct(self, spark):
        # n=1: every pct hits rank 1 -> one output row per pct, same value
        rows = [("a", 2.0, 0), ("b", 1.0, 0), ("b", 4.0, 1)]
        got = self._run(spark, rows, [25, 50])
        assert got == {
            ("a", 25): (2.0, 1), ("a", 50): (2.0, 1),
            ("b", 25): (1.0, 2), ("b", 50): (1.0, 2),
        }

    def test_rejects_non_integer_pcts(self, spark):
        df = spark.createDataFrame([("a", 1.0, 0)], "g string, v double, id long")
        with pytest.raises(ValueError):
            group_quantiles(df, "g", "v", "id", [0.5])
        with pytest.raises(ValueError):
            group_quantiles(df, "g", "v", "id", [0])


class TestGroupMode:
    def _run(self, spark, rows):
        df = spark.createDataFrame(rows, "g string, v string")
        out = group_mode(df, "g", "v")
        return {r.g: (r.mode_value, r.n_occurrences) for r in out.collect()}

    def test_plain_majority(self, spark):
        rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "z")]
        assert self._run(spark, rows) == {"a": ("x", 2), "b": ("z", 1)}

    def test_tie_breaks_to_smallest_value(self, spark):
        rows = [("a", "y"), ("a", "x"), ("a", "x"), ("a", "y")]
        assert self._run(spark, rows) == {"a": ("x", 2)}

    def test_nulls_excluded(self, spark):
        rows = [("a", None), ("a", None), ("a", "w")]
        assert self._run(spark, rows) == {"a": ("w", 1)}

    def test_matches_counter_random(self, spark):
        import random
        from collections import Counter

        rng = random.Random(23)
        rows, expected = [], {}
        for g in ("p", "q", "r"):
            vals = [rng.choice("abcdef") for _ in range(rng.randrange(1, 80))]
            rows += [(g, v) for v in vals]
            c = Counter(vals)
            # deterministic tie-break: max count, then smallest value
            top = max(c.values())
            mode = min(v for v, n in c.items() if n == top)
            expected[g] = (mode, top)
        assert self._run(spark, rows) == expected


class TestGiniIdentity:
    """The h16 tie-grouped rank-sum identity vs the textbook sorted-rank
    Gini formula (G = (2*sum(i*c_i) - (n+1)*sum(c)) / (n*sum(c)))."""

    def _spark_gini(self, spark, counts):
        import __spark_entry__ as entry
        from pyspark.sql import functions as F

        # build a fake events frame with the given per-user event counts
        rows = []
        eid = 0
        for u, c in enumerate(counts):
            for _ in range(c):
                rows.append((eid, u))
                eid += 1
        df = spark.createDataFrame(rows, "event_id long, user_id long")
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            df.write.mode("overwrite").parquet(f"{td}/events.parquet")
            (row,) = entry.queries()["h16_gini"](spark, td).collect()
        return row.n_users, row.total_events, row.gini

    def test_matches_textbook_formula(self, spark):
        import random

        rng = random.Random(41)
        counts = [rng.randrange(1, 30) for _ in range(60)]
        n, t, gini = self._spark_gini(spark, counts)
        sc = sorted(counts)
        a = sum((i + 1) * c for i, c in enumerate(sc))
        want = float(2 * a - (len(sc) + 1) * sum(sc)) / float(len(sc) * sum(sc))
        assert (n, t) == (len(counts), sum(counts))
        assert gini == want

    def test_uniform_counts_give_zero(self, spark):
        n, t, gini = self._spark_gini(spark, [7] * 20)
        assert gini == 0.0

    def test_total_concentration_approaches_limit(self, spark):
        # one heavy user among minimal users: G = (n-1)/n * (c-1)*... just
        # sanity: heavily skewed -> gini well above uniform
        _, _, gini = self._spark_gini(spark, [1] * 19 + [100])
        assert gini > 0.7


class TestDailyNewUsers:
    """h25's cumulative distinct-user curve carries forward over a day
    with no new users, on the Spark side and in its DuckDB oracle."""

    def test_running_total_carries_over_day_without_new_users(self, spark, tmp_path):
        import datetime

        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        # day 1: users 1, 2 (new); day 2: user 1 only (returning);
        # day 3: user 2 (returning) and user 3 (new)
        visits = [(1, 1), (1, 2), (2, 1), (3, 2), (3, 3)]
        ts = [datetime.datetime(2024, 1, day, 12) for day, _ in visits]
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array(range(len(visits)), pa.int64()),
                    "ts": pa.array(ts, pa.timestamp("us")),
                    "user_id": pa.array([u for _, u in visits], pa.int64()),
                }
            ),
            tmp_path / "events.parquet",
        )
        want = [
            (datetime.date(2024, 1, 1), 2, 2, 2),
            (datetime.date(2024, 1, 2), 1, 0, 2),
            (datetime.date(2024, 1, 3), 2, 1, 3),
        ]
        df = entry.queries()["h25_daily_new_users"](spark, str(tmp_path))
        assert df.columns == ["d", "n_active", "n_new", "cum_users"]
        assert sorted(tuple(r) for r in df.collect()) == want

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
        )
        sql = entry.oracle_sql()["h25_daily_new_users"]
        assert sorted(con.execute(sql).fetchall()) == want


class TestWeightedMedian:
    def _run(self, spark, rows):
        from rust_geo_booleanop_spark.operators import weighted_median

        df = spark.createDataFrame(rows, "g string, v double, w long, id long")
        out = weighted_median(df, "g", "v", "w", "id")
        return {
            r.g: (r.weighted_median, r.total_weight, r.n_rows)
            for r in out.collect()
        }

    @staticmethod
    def _twin(rows):
        """Crossing-rule twin: smallest v whose cumulative weight under
        the (v, id) total order first reaches half the total."""
        out = {}
        groups = {}
        for g, v, w, i in rows:
            if v is None:
                continue
            groups.setdefault(g, []).append((v, i, w))
        for g, items in groups.items():
            items.sort()
            tot = sum(w for _, _, w in items)
            cum = 0
            for v, _, w in items:
                cum += w
                if 2 * cum >= tot:
                    out[g] = (v, tot, len(items))
                    break
        return out

    def test_unit_weights_give_lower_median(self, spark):
        rows = [("a", 1.0, 1, 0), ("a", 2.0, 1, 1), ("a", 10.0, 1, 2), ("a", 99.0, 1, 3)]
        # even n with unit weights: lower median (2.0), not the mean
        assert self._run(spark, rows) == {"a": (2.0, 4, 4)}

    def test_heavy_tail_weight_drags_the_median(self, spark):
        rows = [("a", 1.0, 1, 0), ("a", 2.0, 1, 1), ("a", 10.0, 5, 2)]
        assert self._run(spark, rows) == {"a": (10.0, 7, 3)}

    def test_exact_half_crossing_picks_the_crossing_row(self, spark):
        # cum = 2 at v=1.0 and tot = 4: 2*2 >= 4 -> v=1.0 is the pick
        rows = [("a", 1.0, 2, 0), ("a", 5.0, 2, 1)]
        assert self._run(spark, rows) == {"a": (1.0, 4, 2)}

    def test_nulls_excluded_and_tie_on_value_uses_id(self, spark):
        rows = [("a", None, 9, 0), ("a", 3.0, 1, 2), ("a", 3.0, 1, 1)]
        assert self._run(spark, rows) == {"a": (3.0, 2, 2)}

    def test_matches_twin_random(self, spark):
        import random

        rng = random.Random(31)
        rows = []
        for g in ("p", "q", "r", "s"):
            for i in range(rng.randrange(1, 50)):
                rows.append(
                    (g, round(rng.uniform(-50, 50), 2), rng.randrange(1, 7), i)
                )
        assert self._run(spark, rows) == self._twin(rows)

    def test_invalid_weights_fail_loudly(self, spark):
        """Contract enforcement: NULL, zero, or negative weights would
        silently corrupt the crossing-row selection (a zero-total group
        vanishes; a negative weight can select several 'medians') — the
        operator must raise, never return wrong rows."""
        import pytest

        for rows in (
            [("a", 1.0, 0, 0)],                       # zero weight
            [("a", 1.0, -2, 0), ("a", 2.0, 5, 1)],    # negative weight
            [("a", 1.0, None, 0)],                    # NULL weight
            [("a", 1.0, None, 0), ("a", 2.0, 3, 1)],  # NULL among valid
        ):
            with pytest.raises(Exception, match="weights must be"):
                self._run(spark, rows)


class TestSamplingEdges:
    def test_hex_threshold_always_8_chars(self):
        """Regression: rates just under 1.0 whose product rounds to 2^32
        must clamp WITHIN 8 hex digits — the 9-char '100000000' breaks
        the fixed-width lexicographic comparison (keeps only digests
        starting with '0', ~6% instead of ~100%)."""
        from rust_geo_booleanop_spark.operators.sampling import (
            rate_to_hex_threshold,
        )

        for rate in (0.0, 1e-12, 0.5, 1 - 2**-53, 1.0, 2.0):
            t = rate_to_hex_threshold(rate)
            assert len(t) == 8, (rate, t)
        assert rate_to_hex_threshold(1 - 2**-53) == "f" * 8

    def test_null_keys_never_sampled_at_any_rate(self, spark):
        """Regression: NULL keys have no sampling identity; rate >= 1.0
        must not keep them while rate 0.999 drops them (a 0.1% rate
        change must not flip NULL-key retention 0% <-> 100%)."""
        from rust_geo_booleanop_spark.operators.sampling import (
            sample_predicate,
        )

        df = spark.createDataFrame(
            [("a",), (None,), ("b",)], "k string"
        )
        for rate in (0.999, 1.0):
            kept = {r.k for r in df.filter(sample_predicate(F.col("k"), rate)).collect()}
            assert None not in kept, rate
        assert {r.k for r in df.filter(sample_predicate(F.col("k"), 1.0)).collect()} == {"a", "b"}
