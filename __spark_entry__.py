"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full boolean-op + tiling pipeline at sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2),
                 derived from oracle_sql().
oracle_sql()   — the query registry: a DuckDB-runnable oracle per query,
                 either ANSI SQL equivalent to the Spark plan or a join
                 against a committed fixture for the ops SQL cannot
                 express (geometry kernel, hashing, media decode).

Determinism notes for oracle comparison:
- double sums go through exact DECIMAL accumulation then one cast to
  double (order-independent, bit-identical across engines);
- every window/top-k has a total order (explicit id tiebreak);
- floating-point expressions are written with identical operation order
  in the Spark plan and the SQL text.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dsum(col, alias):
    """Order-independent double sum: exact decimal accumulation, one cast."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


# Synthetic points derived from events with integer arithmetic (identical in
# Spark and DuckDB): x in [0,997), y in [0,983).
def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events").select(
        F.col("event_id").alias("point_id"),
        (F.col("event_id") % 997).cast("double").alias("x"),
        ((F.col("event_id") * 31) % 983).cast("double").alias("y"),
        F.col("value"),
    )


_POINTS_SQL = (
    "SELECT event_id AS point_id, CAST(event_id % 997 AS DOUBLE) AS x, "
    "CAST((event_id * 31) % 983 AS DOUBLE) AS y, value FROM events"
)

_ZONE_W = 200.0
_N_ZONES = 25  # 5 x 5 grid of 200x200 rectangles covering [0,1000)^2


def _zones(spark: SparkSession) -> DataFrame:
    import json

    rows = []
    for zid in range(_N_ZONES):
        x0 = float(zid % 5) * _ZONE_W
        y0 = float(zid // 5) * _ZONE_W
        ring = [
            [x0, y0],
            [x0 + _ZONE_W, y0],
            [x0 + _ZONE_W, y0 + _ZONE_W],
            [x0, y0 + _ZONE_W],
            [x0, y0],
        ]
        geom = {"type": "Polygon", "coordinates": [ring]}
        rows.append((str(zid), json.dumps(geom), x0, y0, x0 + _ZONE_W, y0 + _ZONE_W))
    return spark.createDataFrame(
        rows, "zone_key string, geom_json string, xmin double, ymin double, xmax double, ymax double"
    )


_ZONES_SQL = (
    "SELECT CAST(range AS VARCHAR) AS zone_key, "
    "CAST((range % 5) * 200 AS DOUBLE) AS x0, "
    "CAST((range // 5) * 200 AS DOUBLE) AS y0 FROM range(25)"
)

_KNN_QUERIES = [(0, 100.0, 100.0), (1, 500.0, 500.0), (2, 900.0, 300.0)]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents -> extraction -> boolean ops -> tile assignment."""
    from rust_geo_booleanop_spark.operators import (
        assign_tiles,
        boolean_pipeline,
        extract_geometries,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    docs = build_documents(spark, "/root/testdata/sf0.001")
    geoms = extract_geometries(docs)
    results = boolean_pipeline(geoms)
    return assign_tiles(results).select(
        "case_id", "subject_url", "clipping_url", "op", "tile_id", "n_polys", "result_json"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _g01_boolean_pipeline(spark, sf_dir):
    """Flagship pipeline (documents -> extraction -> pair shuffle -> kernel),
    hash-graded since round 4: the oracle reads the committed fixture
    tests/oracle_fixtures/g01_npolys_sf01.parquet — expected polygon counts
    per (case, op) computed WITHOUT Spark by the PURE-PYTHON kernel pair
    runner (scripts/gen_geo_oracle_fixtures.py; generated-oracle pattern
    like d02, freshness pinned by tests/test_oracle_fixtures.py) — and
    joins it against the `documents` view to restrict to the cases the
    current scale factor contains. The comparison cross-checks the whole
    distributed path (html extraction, pair formation, the native C kernel
    stage) against the locally-computed pure-Python kernel."""
    from rust_geo_booleanop_spark.operators import boolean_pipeline, extract_geometries
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir))
    return boolean_pipeline(geoms).select("case_id", "op", "n_polys")


def _g02_tile_assignment(spark, sf_dir):
    """Tile histogram over kernel results, hash-graded since round 4
    (same generated-fixture oracle as g01: per-(case,op) covering tiles
    precomputed Spark-free with the python kernel + the operator's own
    cell math; the DuckDB side re-aggregates the per-tile counts)."""
    from rust_geo_booleanop_spark.operators import (
        assign_tiles,
        boolean_pipeline,
        extract_geometries,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir))
    tiled = assign_tiles(boolean_pipeline(geoms))
    return tiled.groupBy("tile_id").agg(F.count("*").alias("n_rows"))


def _g03_tile_clip(spark, sf_dir):
    """Per-tile kernel clip, hash-graded since round 4 (g01's fixture
    pattern: expected clip polygon counts precomputed Spark-free with the
    python kernel over the same tile squares)."""
    from rust_geo_booleanop_spark.operators import (
        assign_tiles,
        boolean_pipeline,
        clip_to_tiles,
        extract_geometries,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir))
    clipped = clip_to_tiles(assign_tiles(boolean_pipeline(geoms)))
    return clipped.select("tile_id", "url", "op", "n_polys")


def _g15_tile_pyramid(spark, sf_dir):
    """Tile-server rollup: kernel results -> tiles -> per-level counts up
    the zoom pyramid (operators/tiling.py::tile_pyramid — pure JVM parent
    chain, one shuffle). Oracle: the same parent bit-arithmetic in SQL
    over the g01/g02 committed tile fixture."""
    from rust_geo_booleanop_spark.operators import (
        assign_tiles,
        boolean_pipeline,
        extract_geometries,
        tile_pyramid,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir))
    tiled = assign_tiles(boolean_pipeline(geoms))
    return tile_pyramid(tiled, from_level=4, to_level=0)


def _g16_geometry_measures(spark, sf_dir):
    """Pure-JVM geometry measures (polygon/ring/vertex counts, signed
    shoelace area, bbox) over the extracted corpus geometries — nested
    higher-order-function folds, zero Python stages past extraction
    (operators/measures.py). Oracle: committed fixture
    tests/oracle_fixtures/g16_measures_sf01.parquet computed by the
    CPython twin `measures_python` with the IDENTICAL left-fold FP
    operation order (generated-oracle pattern like g01; freshness pinned
    by tests/test_oracle_fixtures.py), joined against the live documents
    view to restrict to the current scale factor."""
    from rust_geo_booleanop_spark.operators import (
        extract_geometries,
        geometry_measures,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir)).select(
        "case_id", "role", "geom_json"
    )
    return geometry_measures(geoms).drop("geom_json")


def _g17_simplify(spark, sf_dir):
    """Douglas-Peucker ring simplification over the corpus geometries
    (operators/simplify.py) — the vertex-budget step of low-zoom tiling.
    Oracle: committed fixture tests/oracle_fixtures/g17_simplify_sf01.parquet
    computed by an INDEPENDENT recursive scalar DP
    (scripts/gen_geo_oracle_fixtures.py::_dp_recursive; same per-point
    distance expression, different control flow), hash-comparing vertex
    counts and the md5 of the byte-parity serialization."""
    from rust_geo_booleanop_spark.operators import (
        extract_geometries,
        simplify_geometries,
    )
    from rust_geo_booleanop_spark.operators.simplify import DEFAULT_SIMPLIFY_TOL
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir)).select(
        "case_id", "role", "geom_json"
    )
    out = simplify_geometries(geoms, tol=DEFAULT_SIMPLIFY_TOL)
    return out.select(
        "case_id",
        "role",
        "n_vertices_in",
        "n_vertices_out",
        F.md5("simplified_json").alias("simplified_md5"),
    )


def _g18_convex_hull(spark, sf_dir):
    """Convex hull per corpus geometry (operators/hull.py, Andrew
    monotone chain in one Arrow stage — no shuffle). Oracle:
    committed fixture tests/oracle_fixtures/g18_hull_sf01.parquet
    computed by an INDEPENDENT Jarvis gift-wrapping implementation
    (scripts/gen_geo_oracle_fixtures.py::_jarvis_hull; same cross
    expression, different control flow), hash-comparing point/vertex
    counts and the md5 of the byte-parity hull serialization."""
    from rust_geo_booleanop_spark.operators import (
        convex_hull_geometries,
        extract_geometries,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir)).select(
        "case_id", "role", "geom_json"
    )
    out = convex_hull_geometries(geoms)
    return out.select(
        "case_id",
        "role",
        "n_points",
        "n_hull_vertices",
        F.md5("hull_json").alias("hull_md5"),
    )


def _g04_pip_join(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import point_in_polygon_join

    pip = point_in_polygon_join(_points(spark, sf_dir), _zones(spark))
    return pip.select("point_id", "zone_key")


def _g05_knn_join(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import knn_join

    queries = spark.createDataFrame(_KNN_QUERIES, "query_id int, qx double, qy double")
    knn = knn_join(_points(spark, sf_dir), queries, k=5)
    return knn.select(
        "query_id", "point_id", F.col("dist").alias("dist_sq"), F.col("rank").alias("knn_rank")
    )


def _g12_knn_bucketed(spark, sf_dir):
    """Scale-path kNN (cell-ring candidates + exact fallback) over a larger
    query set; results provably identical to brute force, so the oracle is
    the brute-force SQL."""
    from rust_geo_booleanop_spark.operators import knn_join_bucketed

    queries = spark.range(50).select(
        F.col("id").cast("int").alias("query_id"),
        ((F.col("id") * 37) % 997).cast("double").alias("qx"),
        ((F.col("id") * 61) % 983).cast("double").alias("qy"),
    )
    knn = knn_join_bucketed(_points(spark, sf_dir), queries, k=5, level=4)
    return knn.select(
        "query_id", "point_id", F.col("dist").alias("dist_sq"), F.col("rank").alias("knn_rank")
    )


def _g06_zonal_stats(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import zonal_stats_join

    z = zonal_stats_join(_points(spark, sf_dir), _zones(spark))
    return z.select("zone_key", "n_points", "min_value", "max_value")


def _g07_candidate_pairs(spark, sf_dir):
    """The REAL candidate_pairs operator (cover-cell explode + equi-join +
    reference-point dedup) over integer-synthesized bboxes, so the
    cell-cover/ref-point arithmetic is value-hash-checked against DuckDB
    grid SQL (the kernel-extracted-geometry variant of this path stays
    exercised rows-only inside g01 and by TestCandidatePairs; its inputs
    aren't SQL-expressible, the operator now is — same precedent as g14
    vs g02)."""
    from rust_geo_booleanop_spark.operators import candidate_pairs

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1500)

    def _boxes(df, mx, my):
        return df.select(
            F.col("event_id").cast("string").alias("url"),
            F.lit("{}").alias("geom_json"),
            ((F.col("event_id") * mx) % 997).cast("double").alias("xmin"),
            ((F.col("event_id") * my) % 983).cast("double").alias("ymin"),
            (((F.col("event_id") * mx) % 997) + 64.0).alias("xmax"),
            (((F.col("event_id") * my) % 983) + 64.0).alias("ymax"),
        )

    subs = _boxes(e.filter(F.col("event_id") % 2 == 0), 1, 31)
    clips = _boxes(e.filter(F.col("event_id") % 2 == 1), 17, 7)
    pairs = candidate_pairs(subs, clips)
    return pairs.select(F.col("l_url").alias("id_a"), F.col("r_url").alias("id_b"))


def _g08_cell_histogram(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import with_point_cells

    pts = with_point_cells(_points(spark, sf_dir), level=4)
    return pts.groupBy("cell_id").agg(F.count("*").alias("n_points"))


def _g13_bbox_overlap_join(spark, sf_dir):
    """Spatial theta-join on raw bbox overlap predicates (no cell keys):
    the ON-clause range-condition shape Catalyst plans for candidate
    refinement. Boxes derive from events with integer arithmetic so the
    oracle builds the identical relation."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    boxes = e.select(
        F.col("event_id").alias("box_id"),
        (F.col("event_id") % 997).cast("double").alias("xmin"),
        ((F.col("event_id") * 31) % 983).cast("double").alias("ymin"),
        ((F.col("event_id") % 997) + 40.0).alias("xmax"),
        (((F.col("event_id") * 31) % 983) + 40.0).alias("ymax"),
    )
    a = boxes.select(*[F.col(c).alias(f"a_{c}") for c in boxes.columns])
    b = boxes.select(*[F.col(c).alias(f"b_{c}") for c in boxes.columns])
    return (
        a.join(
            b,
            (F.col("a_box_id") < F.col("b_box_id"))
            & (F.col("a_xmin") <= F.col("b_xmax"))
            & (F.col("b_xmin") <= F.col("a_xmax"))
            & (F.col("a_ymin") <= F.col("b_ymax"))
            & (F.col("b_ymin") <= F.col("a_ymax")),
        )
        .select(F.col("a_box_id").alias("id_a"), F.col("b_box_id").alias("id_b"))
    )


def _g14_tile_cover(spark, sf_dir):
    """The REAL assign_tiles operator (cover-cells UDF + explode) over
    integer-synthesized bboxes, so the tile-assignment code path itself is
    value-hash-checked against DuckDB grid arithmetic (g02's variant over
    kernel-result bboxes stays rows-only — its inputs aren't
    SQL-expressible, the operator now is)."""
    from rust_geo_booleanop_spark.operators import assign_tiles

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    boxes = e.select(
        F.col("event_id").alias("box_id"),
        (F.col("event_id") % 997).cast("double").alias("xmin"),
        ((F.col("event_id") * 31) % 983).cast("double").alias("ymin"),
        ((F.col("event_id") % 997) + 40.0).alias("xmax"),
        (((F.col("event_id") * 31) % 983) + 40.0).alias("ymax"),
    )
    tiled = assign_tiles(boxes)
    return tiled.groupBy("tile_id").agg(F.count("*").alias("n_boxes"))


def _r01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def _r02_filter_projection(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 30.0) & (F.col("l_returnflag") == "R")
    ).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)")
         * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
        .cast("double")
        .alias("net_price"),
    )


def _r03_broadcast_join_dims(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = F.broadcast(_t(spark, sf_dir, "customer"))
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_orders"), _dsum("o_totalprice", "sum_price"))
    )


def _r04_sortmerge_join(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # force the big-big path to exercise sort-merge (no broadcast hint)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            _dsum("l_extendedprice", "sum_price"),
        )
    )


def _r05_window_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("price_rank", F.row_number().over(w))
        .filter(F.col("price_rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "price_rank")
    )


def _r06_sort_limit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(10)
    )


def _r07_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


def _r08_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def _r09_setops(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).unionByName(
        c.exceptAll(c)  # empty, keeps the plan shape union+intersect+except
    ).distinct()


def _r10_events_agg(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.approx_count_distinct("user_id").alias("approx_users"),
    ).drop("approx_users")  # approx differs across engines; keep exact cols


def _r11_events_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return e.withColumn("event_seq", F.row_number().over(w)).select(
        "user_id", "event_id", "event_seq"
    )


def _r12_events_json(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    ).filter(F.col("prop_k") > 50)


def _r13_date_functions(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("order_month", F.date_trunc("month", F.col("o_orderdate")))
        .withColumn("order_year", F.year("o_orderdate").cast("int"))
        .withColumn("order_dow", F.dayofweek("o_orderdate").cast("int"))
        .groupBy("order_year", "order_month")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("order_dow").alias("min_dow"),
        )
    )


def _r14_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    rolled = li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_rows"),
        _dsum("l_quantity", "sum_qty"),
    )
    return rolled.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "gid",
        "n_rows",
        "sum_qty",
    )


def _r15_asof_join(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases, clicks,
        left_key="user_id", right_key="user_id",
        left_time="ts", right_time="ts",
        right_cols=["event_id"], right_tie="event_id",
    )
    return joined.select("purchase_id", "asof_event_id")


def _r16_sessionize(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import sessionize

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = sessionize(e, gap_seconds=1800)
    return s.select(
        "user_id", "event_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        F.col("event_in_session").cast("long").alias("event_in_session"),
    )


def _r24_interval_join(spark, sf_dir):
    """Interval (range-overlap) join via the bucketed equi-join operator
    (operators/temporal.py::interval_join): every event of a user within
    the half-open 30-minute window after that user's error events — the
    incident-correlation shape. Spark would plan the theta form as a
    BroadcastNestedLoopJoin; the operator turns it into a (user, slot)
    equi-join with bounded interval replication. Timestamp arithmetic is
    exact integer micros on both engines."""
    from rust_geo_booleanop_spark.operators import interval_join

    e = _t(spark, sf_dir, "events")
    points = e.select("event_id", "user_id", "ts")
    incidents = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        "user_id",
        F.col("ts").alias("t_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t_end"),
    )
    out = interval_join(
        points, incidents,
        point_time="ts", start_col="t_start", end_col="t_end",
        key_col="user_id", bucket_seconds=1800,
    )
    return out.select(
        F.col("i_incident_id").alias("incident_id"),
        F.col("p_event_id").alias("event_id"),
        F.col("p_user_id").alias("user_id"),
    )


def _r17_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery (Catalyst decorrelates to an aggregate
    join); integer-only so the value hash is exact across engines."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT COUNT(*) FROM orders_v o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM customer_v c
        WHERE (SELECT COUNT(*) FROM orders_v o
               WHERE o.o_custkey = c.c_custkey) >= 15
        """
    )


def _r18_pivot(spark, sf_dir):
    """Pivot event_type into columns (Spark PIVOT with explicit values; the
    oracle is the equivalent conditional aggregation)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
        .select(
            "user_id",
            F.coalesce("click", F.lit(0)).alias("n_click"),
            F.coalesce("view", F.lit(0)).alias("n_view"),
            F.coalesce("purchase", F.lit(0)).alias("n_purchase"),
            F.coalesce("signup", F.lit(0)).alias("n_signup"),
            F.coalesce("error", F.lit(0)).alias("n_error"),
        )
    )


def _r19_range_window(spark, sf_dir):
    """RANGE window frame (trailing 1-hour event count per user) + ntile —
    frame shapes beyond row_number; integer-only outputs."""
    e = _t(spark, sf_dir, "events")
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(F.col("_ep"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    w_tile = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.withColumn("_ep", epoch)
        .withColumn("n_last_hour", F.count("*").over(w_range))
        .withColumn("quartile", F.ntile(4).over(w_tile))
        .select("user_id", "event_id", "n_last_hour", "quartile")
    )


def _r20_cube(spark, sf_dir):
    """CUBE over two dims (all 4 grouping combinations; rollup's sibling —
    r14 covers ROLLUP)."""
    li = _t(spark, sf_dir, "lineitem")
    cubed = li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n_rows"),
        _dsum("l_quantity", "sum_qty"),
    )
    return cubed.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "gid",
        "n_rows",
        "sum_qty",
    )


def _r21_in_subquery(spark, sf_dir):
    """IN / NOT IN subquery predicates (Catalyst rewrites to semi/anti
    joins; the NOT IN branch exercises null-aware anti join semantics)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer_v21")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v21")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey IN (
                   SELECT o_custkey FROM orders_v21 WHERE o_totalprice > 300000.0
               ) THEN 1 ELSE 0 END AS has_big_order
        FROM customer_v21
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders_v21 WHERE o_orderpriority = '1-URGENT'
        )
        """
    )


def _r22_lag_lead(spark, sf_dir):
    """lag / lead / first_value frame shapes over a total order."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return e.select(
        "user_id",
        "event_id",
        F.lag("event_id", 1).over(w).alias("prev_event_id"),
        F.lead("event_id", 1).over(w).alias("next_event_id"),
        F.first("event_id").over(w).alias("first_event_id"),
    )


def _h01_heavy_hitters(spark, sf_dir):
    """Two-pass exact heavy hitters (Misra-Gries candidates + exact
    verify): output is exact, so the oracle is a plain GROUP BY/HAVING —
    while the Spark plan never hash-aggregates the full distinct-value
    space (operators/sketch.py)."""
    from rust_geo_booleanop_spark.operators import heavy_hitters

    e = _t(spark, sf_dir, "events").select("user_id")
    return heavy_hitters(e, "user_id", threshold_frac=0.005).select(
        "user_id", F.col("n").alias("n_events")
    )


def _h09_group_median(spark, sf_dir):
    """Exact per-group median (operators/quantiles.py::group_median):
    two-central-ranks selection with a total (value, event_id) order —
    odd groups divide by 1.0 (exact identity), even groups do one
    commutative double addition + one division by 2.0, so the DuckDB
    oracle reproduces the doubles bit-for-bit."""
    from rust_geo_booleanop_spark.operators import group_median

    e = _t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    return group_median(e, "event_type", "value", "event_id")


def _h10_skyline(spark, sf_dir):
    """Pareto frontier of documents under (minimize n_tokens, maximize
    n_distinct) — the "most lexical diversity for the least token
    budget" curation frontier (operators/skyline.py::pareto_frontier).
    Metrics reuse t10's proven-parity token expressions (trim/coalesce/
    whitespace split/drop-empties; distinct via array_distinct ==
    DuckDB list_distinct), all exact integers, so the NOT EXISTS
    dominance oracle hashes bit-for-bit. Ties (equal metric pairs) are
    mutually non-dominating and ALL survive on both sides."""
    from rust_geo_booleanop_spark.operators import pareto_frontier

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    metrics = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    return pareto_frontier(metrics, "n_tokens", "n_distinct", minimize_x=True)


def _g23_focal_heatmap(spark, sf_dir):
    """Sparse raster focal sum (operators/tiling.py::focal_sum): 3x3
    neighborhood smoothing of the integer point-grid histogram — the
    grid-convolution primitive (heatmaps, density surfaces). Map-side
    9-way explode + ONE hash aggregate; integer-exact, so the oracle is
    the same convolution as a 9-row cross join in SQL."""
    from rust_geo_booleanop_spark.operators import focal_sum

    cells = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr("(event_id % 997) DIV 50").alias("gx"),
            F.expr("((event_id * 31) % 983) DIV 50").alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return focal_sum(cells, radius=1)


def _h02_exact_quantiles(spark, sf_dir):
    """Exact distributed order statistics without a global sort: shared
    histogram pass + recursive bucket narrowing + sort-limit of only the
    final <= max_tail tail (operators/quantiles.py). Output is the exact
    quantile_disc element, so the oracle is DuckDB's quantile_disc."""
    from rust_geo_booleanop_spark.operators import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(li, "l_extendedprice", [0.25, 0.5, 0.75, 0.9, 0.99])


def _t12_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling / dataset mixing: keep-decision =
    md5-prefix-of-key vs a per-stratum hex threshold, pure JVM codegen
    filter (operators/sampling.py). The oracle recomputes the identical
    member set from the same md5 rule in SQL."""
    from rust_geo_booleanop_spark.operators import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        d, "doc_id", "lang", {"en": 0.5, "de": 0.25, "fr": 0.1}, default_rate=0.05
    )


def _t13_tfidf_topterms(spark, sf_dir):
    """Top-3 distinctive terms per document by a TF-IDF-style score with a
    RATIONAL idf (N / (1 + df) — monotone equivalent of log-idf whose
    +,*,/ arithmetic is bit-reproducible across engines, unlike ln), pure
    built-in functions (operators/text.py::tfidf_top_terms). The oracle
    recomputes the identical tokenize -> tf -> df -> score -> windowed
    top-k chain in SQL with the same FP expression tree."""
    from rust_geo_booleanop_spark.operators import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def _t15_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    word 4-gram with a deterministic held-out eval slice (doc_id % 41
    == 0) — the pre-training hygiene pass that keeps test data out of the
    corpus (operators/text.py::decontaminate). Pure codegen gram explode
    + broadcast join + one aggregation; the oracle recomputes identical
    grams with DuckDB list slicing (d03's shingle precedent; counts only,
    no FP)."""
    from rust_geo_booleanop_spark.operators import decontaminate

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 41 == 0)
    tr = docs.filter(F.col("doc_id") % 41 != 0)
    return decontaminate(tr, ev, n=4)


def _h03_bigram_assoc(spark, sf_dir):
    """Top-20 corpus collocations by the rational association score
    pair_count*N/(c_a*c_b) (operators/text.py::bigram_collocations) —
    PMI without the log so the doubles are bit-reproducible (the t13
    trick). Distributed partial top-k via orderBy+limit
    (TakeOrderedAndProject), never a global window. Oracle: identical
    zip-unnest bigrams, counts, and score expression tree in DuckDB."""
    from rust_geo_booleanop_spark.operators import bigram_collocations

    return bigram_collocations(
        _t(spark, sf_dir, "documents"), min_count=5, k=20
    )


def _t17_line_dedup(spark, sf_dir):
    """Within-document repeated-line removal, first occurrence kept in
    order (operators/text.py::dedup_lines) — the within-page half of
    CCNet line dedup (d06 is the cross-document half). The corpus texts
    are single-line, so the query synthesizes a deterministic page with
    in-page repeats: a nav line at top AND bottom, a doubled blank line,
    and (every 3rd doc) the content line twice. Pure codegen fold; the
    oracle replays it with a min-ordinality group + ordered string_agg."""
    from rust_geo_booleanop_spark.operators import dedup_lines

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.lit("nav home about contact"),
            F.col("text"),
            F.lit(""),
            F.lit(""),
            F.when(F.col("doc_id") % 3 == 0, F.col("text")),
            F.lit("nav home about contact"),
        ),
    )
    return dedup_lines(d).select(
        "doc_id", "clean_text", "n_lines_in", "n_lines_out"
    )


def _h04_vocab_stats(spark, sf_dir):
    """Per-language vocabulary statistics (token volume, vocabulary size,
    hapax legomena, type-token ratio) — the Heaps/Zipf corpus health
    check (operators/text.py::vocabulary_stats). Two map-side-partial
    hash aggs, never a distinct over raw tokens. Oracle: identical
    tokenize -> (lang, token) count -> per-lang rollup; the one double
    division (n_types/n_tokens) is bit-equal both engines; integer sums
    carry the BIGINT cast (DuckDB HUGEINT trap)."""
    from rust_geo_booleanop_spark.operators import vocabulary_stats

    return vocabulary_stats(_t(spark, sf_dir, "documents"))


def _h05_length_token_corr(spark, sf_dir):
    """Per-source Pearson correlation + OLS slope between the stored
    n_chars and the observed whitespace token count
    (operators/text.py::length_token_correlation) — the metadata-sanity
    check of a crawl pipeline. All sufficient statistics are exact
    integer sums (one map-side-partial hash agg); the only doubles are
    the final fixed-tree corr/slope expressions, bit-equal with the
    DuckDB oracle (IEEE correctly-rounded sqrt/div over exact ints)."""
    from rust_geo_booleanop_spark.operators import length_token_correlation

    return length_token_correlation(_t(spark, sf_dir, "documents"))


def _t16_lang_balance(spark, sf_dir):
    """Mixture balancing: downsample every language stratum to exactly
    the smallest stratum's count ("equal documents per language"),
    deterministically by (md5(doc_id), doc_id) rank
    (operators/sampling.py::balanced_sample). Rank-based so the kept set
    is exact — no FP thresholds; the oracle recomputes the identical
    total-order window + data-dependent min-count target."""
    from rust_geo_booleanop_spark.operators import balanced_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return balanced_sample(docs, stratum_col="lang", key_col="doc_id")


def _t14_chunking(spark, sf_dir):
    """Training-window chunking: fixed 32-token windows with 8-token
    overlap (operators/text.py::chunk_documents) — a pure per-row codegen
    expression with NO shuffle; the packing step of a training-data
    pipeline. Oracle: identical window rule recomputed with DuckDB list
    slicing (strings only, so no FP concerns)."""
    from rust_geo_booleanop_spark.operators import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


def _d07_incremental_dedup(spark, sf_dir):
    """Cross-snapshot incremental dedup: current docs whose normalized
    text key an earlier crawl (simulated: doc_id % 3 == 0) already has.
    A bloom bitmap of the prior key set (one aggregate pass, fixed 128
    KiB regardless of corpus size) pre-filters the probe side; only the
    possibly-seen sliver reaches the exact anti-join, so the output is
    EXACT and the oracle is a plain SQL anti-join on the same key
    (operators/bloom.py)."""
    from rust_geo_booleanop_spark.operators import incremental_new_keys
    from rust_geo_booleanop_spark.operators.dedup import normalized_text_key

    docs = _t(spark, sf_dir, "documents").withColumn("key", normalized_text_key())
    prior = docs.filter(F.col("doc_id") % 3 == 0).select("key")
    new = incremental_new_keys(
        docs.select("doc_id", "lang", "key"), prior, "key"
    )
    return new.select("doc_id", "lang")


def _d09_substring_dup(spark, sf_dir):
    """Exact substring duplication (Lee et al. window-hash form): per-doc
    count/coverage of 8-token windows occurring >1 time anywhere in the
    corpus (operators/dedup.py::substring_dup_stats). One hash-agg over
    md5 window keys + a semi join back + a per-doc agg — never a suffix
    array, never all-pairs. Oracle: identical windows via DuckDB list
    slicing + range unnest; dup_fraction is a single covered/n_tokens
    double division (bit-equal both engines)."""
    from rust_geo_booleanop_spark.operators import substring_dup_stats

    return substring_dup_stats(
        _t(spark, sf_dir, "documents"), window=8, threshold=0.5
    )


def _d10_edit_pairs(spark, sf_dir):
    """Edit-distance-verified near-dup pairs: window-hash blocking (the
    d09 relation, df-bounded like d03's max_df) + exact JVM thresholded
    Levenshtein verification on whitespace-normalized text
    (operators/dedup.py::edit_verified_pairs). Oracle: identical window
    blocking in DuckDB (proven by d09) + DuckDB's levenshtein — both
    engines implement standard edit distance, so dist is an exact
    integer, hash-stable."""
    from rust_geo_booleanop_spark.operators import edit_verified_pairs

    return edit_verified_pairs(
        _t(spark, sf_dir, "documents"), window=8, max_dist=6, max_df=64
    )


def _g19_iou(spark, sf_dir):
    """Per-case intersection-over-union: the kernel computes
    intersection + union geometries, the JVM shoelace fold (g16's
    pinned expressions) takes their areas, one division makes the IoU
    (operators/measures.py::iou_per_case). Oracle: committed fixture
    computed WITHOUT Spark by the pure-Python kernel pair runner + the
    area-fold twin (scripts/gen_geo_oracle_fixtures.py::g19_iou_rows),
    joined to the live documents view; the iou division runs in SQL on
    the fixture areas — identical IEEE division both engines."""
    from rust_geo_booleanop_spark.operators import (
        boolean_pipeline,
        extract_geometries,
        iou_per_case,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir))
    results = boolean_pipeline(geoms, ops=("intersection", "union"))
    return iou_per_case(results)


def _g20_tile_weights(spark, sf_dir):
    """Area-weighted tile apportionment (areal interpolation): fraction
    of each subject geometry's area per covering tile, apportioning the
    page's n_chars onto the grid (operators/tiling.py::
    tile_area_weights). Oracle: committed fixture of clip/geom areas
    from the python-kernel + area-fold twins
    (scripts/gen_geo_oracle_fixtures.py::g20_weight_rows); the weight
    division and the apportionment multiply are recomputed in SQL with
    the LIVE n_chars — identical IEEE ops both engines."""
    from rust_geo_booleanop_spark.operators import (
        extract_geometries,
        tile_area_weights,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir)).filter(
        F.col("role") == "subject"
    )
    # level 6: subjects straddle ~10 tiles (median) so the weights are a
    # real partition of unity, not a degenerate all-1.0 column; must
    # match gen_geo_oracle_fixtures.G20_LEVEL
    w = tile_area_weights(geoms, level=6)
    vals = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select(
            F.expr("doc_id DIV 2").alias("case_id"),
            F.col("n_chars").cast("double").alias("_v"),
        )
    )
    return w.join(vals, "case_id").select(
        "case_id",
        "tile_id",
        "clip_area",
        "geom_area",
        "weight",
        (F.col("weight") * F.col("_v")).alias("apportioned_chars"),
    )


def _g21_shape_stats(spark, sf_dir):
    """Shape statistics (region area, area-weighted centroid, boundary
    perimeter) over every extracted corpus geometry — pure-JVM
    higher-order-function folds, winding-robust structural hole handling
    (operators/measures.py::shape_stats). Oracle: committed fixture from
    the CPython twin `shape_stats_python` (identical FP operation
    order), joined against the live documents view to restrict to the
    current scale factor — the g16 generated-oracle pattern."""
    from rust_geo_booleanop_spark.operators import extract_geometries, shape_stats
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir)).select(
        "case_id", "role", "geom_json"
    )
    return shape_stats(geoms).drop("geom_json")


def _g22_compactness(spark, sf_dir):
    """Polsby-Popper compactness per corpus geometry
    (operators/measures.py::shape_compactness): 4*pi*A/P^2 over the
    bit-exact g21 shape folds. Oracle: the g21 twin fixture with the
    identical multiply-chain + division recomputed in SQL (the g19
    division pattern), restricted to the live scale via the doc join."""
    from rust_geo_booleanop_spark.operators import extract_geometries, shape_compactness
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir)).select(
        "case_id", "role", "geom_json"
    )
    return shape_compactness(geoms).select("case_id", "role", "compactness")


def _r23_grouping_sets(spark, sf_dir):
    """GROUPING SETS aggregation (the general form of r14 rollup / r20
    cube): per (returnflag, linestatus), per returnflag, and grand-total
    revenue over lineitem — decimal-exact sums cast once to double,
    grouping_id disambiguates the null-key rows. Same ANSI text runs on
    both engines."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER)
                   AS gid,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """)


def _d11_edit_clusters(spark, sf_dir):
    """Edit-distance dedup collapse: the d10 verified pair relation ->
    connected components (the d04 min-label/pointer-doubling stage) ->
    canonical minimum-id representative per doc. Oracle: recursive-CTE
    transitive closure over the identical _D10_SQL pair set."""
    from rust_geo_booleanop_spark.operators import (
        dedup_clusters,
        edit_verified_pairs,
    )

    pairs = edit_verified_pairs(
        _t(spark, sf_dir, "documents"), window=8, max_dist=6, max_df=64
    )
    return dedup_clusters(pairs, id_a="doc_id_a", id_b="doc_id_b").select(
        "doc_id", "cluster_rep"
    )


def _h06_zipf_histogram(spark, sf_dir):
    """Zipf token-frequency histogram: power-of-2 frequency bands with
    type and occurrence counts (operators/text.py::zipf_histogram).
    Bucket = base-2 digit count of the frequency — exact integer
    arithmetic on both engines (Spark conv base 2, DuckDB bin), no
    floating log anywhere."""
    from rust_geo_booleanop_spark.operators import zipf_histogram

    return zipf_histogram(_t(spark, sf_dir, "documents"))


def _t18_bm25_search(spark, sf_dir):
    """BM25 keyword search top-10 (operators/text.py::bm25_topk) for the
    query ["dup", "join", "window"] — corpus-audit retrieval. Rational
    Robertson idf (no ln — monotone, t13 pattern), per-term scores summed
    in literal term order as one left-chained addition, rank by the
    (score DESC, doc_id ASC) total order. Oracle: the identical
    arithmetic, operation for operation, in DuckDB."""
    from rust_geo_booleanop_spark.operators import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), terms=["dup", "join", "window"], k=10
    )


def _h08_cm_sketch(spark, sf_dir):
    """Count-min frequency sketch (operators/sketch.py::cm_sketch, depth
    4 x 4096 string buckets): the mergeable companion to the h07 HLL —
    (row_id, bucket, cnt) cells, exact integer/string arithmetic only
    (bucket = md5 hex prefix string, the h07 discipline). Overestimate
    guarantee pinned by TestCmSketch."""
    from rust_geo_booleanop_spark.operators import cm_sketch

    return cm_sketch(_t(spark, sf_dir, "documents"), depth=4)


def _t19_token_freq_score(spark, sf_dir):
    """Corpus-frequency quality score (operators/text.py::token_freq_score)
    — the SQL-exact CCNet-style LM-filter proxy: mean corpus frequency of
    a document's tokens. Cross-document signal (the unigram table is the
    model). Numerator is an integer sum (order-free exact); score is one
    double division — no floating log (t13/t18 rational pattern)."""
    from rust_geo_booleanop_spark.operators import token_freq_score

    return token_freq_score(_t(spark, sf_dir, "documents"))


def _h07_hll_sketch(spark, sf_dir):
    """HyperLogLog register sketch (p=8, 256 registers) of the corpus
    token vocabulary (operators/sketch.py::hll_sketch) — the mergeable
    distinct-count structure a 100 TB pipeline keeps per shard and ORs
    together. Rank extraction is EXACT string/integer arithmetic over
    the md5 hex (anchored zero-strip + 4-way CASE on the first nonzero
    hex digit), never a floating log, so the sketch value-hashes across
    engines. Estimate accuracy is pinned separately by TestHllSketch."""
    from rust_geo_booleanop_spark.operators import hll_sketch

    return hll_sketch(_t(spark, sf_dir, "documents"), p=8)


def _d12_containment_pairs(spark, sf_dir):
    """Asymmetric containment / quote detection: pairs whose smaller
    distinct-window set is >= 80% contained in the other's
    (operators/dedup.py::containment_pairs). Catches short-doc-quoted-
    inside-long-doc cases that Jaccard (d03) structurally misses.
    Oracle: identical distinct-window relation + df bound in DuckDB;
    counts are exact integers, containment one double division."""
    from rust_geo_booleanop_spark.operators import containment_pairs

    return containment_pairs(
        _t(spark, sf_dir, "documents"), window=8, threshold=0.8, max_df=64
    )


def _t01_exact_dedup(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id", "lang", "n_chars")


def _t02_dup_stats(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import exact_dup_stats

    return exact_dup_stats(_t(spark, sf_dir, "documents")).select(
        "dup_key", "n_copies", "representative"
    )


def _t03_text_stats(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import with_text_stats

    d = with_text_stats(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "n_chars_obs", "n_tokens", "space_ratio", "digit_ratio")


def _t04_quality_score(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import quality_score

    return quality_score(_t(spark, sf_dir, "documents")).select("doc_id", "quality")


def _t05_langid(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import with_detected_language

    d = with_detected_language(_t(spark, sf_dir, "documents"))
    return d.groupBy("lang", "detected_lang").agg(F.count("*").alias("n_docs"))


def _t06_fingerprint(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import document_fingerprint

    return document_fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


def _t07_token_count(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import token_count_col

    d = _t(spark, sf_dir, "documents")
    return d.withColumn("n_tokens", token_count_col()).groupBy("lang").agg(
        F.sum("n_tokens").alias("total_tokens"), F.count("*").alias("n_docs")
    )


def _t08_pii_scrub(spark, sf_dir):
    """PII redaction with deterministic synthetic PII appended per doc
    (the corpus itself has none) so the hash check exercises REAL email +
    phone matches on both engines, not an identity transform."""
    from rust_geo_booleanop_spark.operators import pii_scrub

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-123-4567 now"),
        ),
    )
    return pii_scrub(d).select(
        "doc_id", "n_emails", "n_phones", F.md5(F.col("scrubbed")).alias("scrub_fp")
    )


def _t09_stopword_ratio(spark, sf_dir):
    """Stopword-density quality signal, bucketed to a histogram (exact
    integer bucket = floor(ratio*20), so the FP division feeds only a
    floor — hash-stable across engines)."""
    from rust_geo_booleanop_spark.operators import with_stopword_ratio

    d = with_stopword_ratio(_t(spark, sf_dir, "documents"))
    return (
        d.withColumn("bucket", F.floor(F.col("stopword_ratio") * 20).cast("long"))
        .groupBy("lang", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


def _t10_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals (token counts + most-frequent word
    2-gram occurrence count). Exact integers only — hash-stable."""
    from rust_geo_booleanop_spark.operators import with_repetition_stats

    d = with_repetition_stats(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", "n_tokens", "n_distinct_tokens", "top2gram_n")


def _d05_url_dedup(spark, sf_dir):
    """URL-canonicalization dedup. The corpus has no url column, so (as
    t08 does for PII) each doc gets a deterministic synthetic messy URL —
    uppercase scheme/host, tracking params, trailing slash — exercising
    every normalization rule; doc_id % 7 within a source makes real
    duplicate groups."""
    from rust_geo_booleanop_spark.operators import url_dedup

    d = _t(spark, sf_dir, "documents").withColumn(
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
    return url_dedup(d).select("url_norm", "n_dups", "canonical_doc_id")


def _d06_boilerplate_lines(spark, sf_dir):
    """Cross-document line-level boilerplate removal (CCNet/RefinedWeb
    stage). The corpus texts are single-line, so the query synthesizes a
    deterministic multi-line page per doc: a global cookie banner (df =
    all docs), the unique content line, an empty line, a per-source
    copyright footer (df = docs/source), a newsletter plug on every 4th
    doc, and a pair-shared `ref` line (df = 2, below min_docs=3 — must
    survive). concat_ws skips the NULL newsletter arg in BOTH engines."""
    from rust_geo_booleanop_spark.operators import remove_boilerplate_lines

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat_ws(
            "\n",
            F.lit("please accept our cookie policy"),
            F.col("text"),
            F.lit(""),
            F.concat(F.lit("(c) "), F.col("source"), F.lit(" media group")),
            F.when(
                F.col("doc_id") % 4 == 0, F.lit("subscribe to our newsletter")
            ),
            F.concat(
                F.lit("ref "),
                (F.col("doc_id") - F.col("doc_id") % 2).cast("string"),
            ),
        ),
    )
    return remove_boilerplate_lines(d, min_docs=3)


def _t11_quality_filter(spark, sf_dir):
    """Gopher-rules composite keep/drop filter with per-rule fail reasons.
    Thresholds tuned so the synthetic corpus splits into a real keep/drop
    mix across several rules (min_tokens=40, min_stopwords=1 — the corpus
    contains only 'the' from the Gopher list, distinct_frac median 0.46 so
    min_distinct_frac=0.45); every ratio is one double division of exact
    integers, so the boolean outcomes hash-match the oracle."""
    from rust_geo_booleanop_spark.operators import gopher_quality_filter

    d = gopher_quality_filter(
        _t(spark, sf_dir, "documents"),
        min_tokens=40,
        min_stopwords=1,
        min_distinct_frac=0.45,
    )
    return d.select("doc_id", "n_tokens", "n_stopwords", "keep", "fail_reason")


def _d01_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs, hash-graded since round 4.

    Runs the real candidates->verify pipeline in the high-recall LSH
    configuration (num_perm=64, bands=32 -> rows=2: a jaccard-0.7 pair
    misses every band with prob (1-0.7^2)^32 ~ 4e-10), so the verified
    output equals the EXACT \\W+ 3-gram Jaccard >= 0.7 pair set — which
    the DuckDB oracle recomputes INDEPENDENTLY via an inverted shingle
    index (d03's precedent, regex tokenizer; corpus is ASCII so RE2's
    \\W matches Python's). Candidate generation stays blake2b-based (not
    SQL-expressible); the gate hash-checks candidate totality plus the
    verify stage's exact Jaccard arithmetic, including the one FP
    division (same ints -> same IEEE double on both engines)."""
    from rust_geo_booleanop_spark.operators import jaccard_verify, minhash_candidates

    docs = _t(spark, sf_dir, "documents")
    cands = minhash_candidates(docs, num_perm=64, bands=32)
    return jaccard_verify(cands, docs, threshold=0.7).select("id_a", "id_b", "jaccard")


def _d02_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, hash-graded since round 4.

    n_blocks = max_hamming + 1 = 9 makes the pigeonhole recall TOTAL
    (any pair within hamming 8 shares >= 1 identical block), so the
    output equals ALL pairs with hamming(simhash_a, simhash_b) <= 8. The
    oracle computes that all-pairs relation over the committed signature
    fixture tests/oracle_fixtures/d02_simhash_sf001.parquet — generated
    FROM the operator's _simhash64 (scripts/gen_d02_oracle_fixture.py,
    same generated-oracle pattern as t05/s02; freshness pinned by
    tests/test_dedup_text.py) — hash-checking the block explode, bucket
    join, distinct, and JVM bit_count hamming against DuckDB's."""
    from rust_geo_booleanop_spark.operators import simhash_dedup

    return simhash_dedup(_t(spark, sf_dir, "documents"), max_hamming=8).select(
        "id_a", "id_b", "hamming"
    )


def _d03_ngram_jaccard(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.5
    ).select("id_a", "id_b", "n_shared", "jaccard")


def _d04_dedup_clusters(spark, sf_dir):
    """Near-dup pairs -> connected components -> canonical representative
    per doc (the collapse step after candidate detection). Iterative
    min-label propagation; the oracle computes the same components with a
    recursive CTE over the identical d03 pair set."""
    from rust_geo_booleanop_spark.operators import dedup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.5)
    return dedup_clusters(pairs).select("doc_id", "cluster_rep")


def _d08_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: LSH embedding near-dup pairs (the
    s03 stage) -> connected components (the d04 stage) -> one kept
    representative per semantic cluster, singletons kept
    (operators/similarity.py::semantic_dedup). Oracle: recursive CTE
    over the identical literal-hyperplane pair relation, left-joined to
    the full embeddings table."""
    from rust_geo_booleanop_spark.operators import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), dim=64, threshold=0.3,
        n_planes=3, n_tables=12,
    )


def _s01_cosine_topk(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = cosine_topk(emb, queries, k=10)
    return topk.select("query_id", "vec_id", F.col("rank").alias("sim_rank"))


def _s02_lsh_buckets(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import with_lsh_bucket

    emb = with_lsh_bucket(_t(spark, sf_dir, "embeddings"), dim=64, n_planes=8)
    return emb.groupBy("lsh_bucket").agg(F.count("*").alias("n_vectors"))


def _s03_embedding_neardup(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import embedding_near_dup_pairs

    # the synthetic embeddings cluster by label with cosine ~0.3-0.5 intra;
    # 0.3 is the "near duplicate" bar for this corpus. At that low bar
    # p = 1 - arccos(0.3)/pi ~= 0.60, so 3 planes/table x 12 tables gives
    # ~0.94 expected recall (measured vs the s05 exact baseline).
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), dim=64, threshold=0.3, n_planes=3, n_tables=12
    ).select("id_a", "id_b")


def _s04_ivf_topk(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = ivf_cosine_topk(emb, queries, k=10, nprobe=2, stride=37)
    return topk.select("query_id", "vec_id", F.col("rank").alias("sim_rank"))


def _s08_pq_topk(spark, sf_dir):
    """Product-quantization ANN top-10 (operators/similarity.py::pq_topk):
    8 subspaces x stride-11 codebooks, per-subspace argmin encoding, ADC
    ranking. Oracle: the identical left-fold double L2^2 arithmetic
    (generated by _l2sq_sql, one chained expression per subspace), the
    same (dist ASC, pivot_id ASC) argmin and (adc ASC, vec_id ASC) rank
    total orders, in DuckDB."""
    from rust_geo_booleanop_spark.operators import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_topk(emb, queries, k=10, m=8, stride=11)


def _s05_neardup_exact(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import cosine_near_dup_exact

    return cosine_near_dup_exact(_t(spark, sf_dir, "embeddings"), threshold=0.3).select(
        "id_a", "id_b"
    )


def _s06_ivf_kmeans(spark, sf_dir):
    """IVF over deterministic distributed Lloyd's centroids (recall@10
    0.63-0.81 vs 0.28-0.55 with stride pivots; see similarity.py). The
    k-means fold is not SQL-expressible; hash-graded since round 4 with a
    SNAPSHOT oracle (the weakest oracle class, labeled honestly): the
    committed fixture pins the deterministic output, and the gate
    re-verifies a fresh session with different partitioning reproduces it
    (scripts/gen_snapshot_oracle_fixtures.py; sf0.01-specific)."""
    from rust_geo_booleanop_spark.operators import ivf_cosine_topk, kmeans_pivots

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    pivots = kmeans_pivots(emb, k=14, iters=3)
    topk = ivf_cosine_topk(emb, queries, k=10, nprobe=2, pivots=pivots)
    return topk.select("query_id", "vec_id", F.col("rank").alias("sim_rank"))


def _g09_fixture_suite(spark, sf_dir):
    """The reference's own fixture corpus through the binaryFile GeoJSON
    source + kernel pipeline, hash-graded since round 4 with a
    REFERENCE-DATA oracle (the strongest oracle class in the gate): for
    every op each fixture file annotates, the query runs the kernel
    through Spark and byte-compares its serialized result against the
    fixture's own expected geometry (`exact_match`). The oracle fixture
    tests/oracle_fixtures/g09_expected.parquet is parsed straight from
    the golden suite under `kernel.geojson.REFERENCE_FIXTURES` — polygon
    counts and exact_match=true come from reference data alone; OUR
    kernel is never involved on the oracle side
    (scripts/gen_geo_oracle_fixtures.py, freshness pinned by
    tests/test_oracle_fixtures.py). A hash-green g09 is therefore
    driver-gate-level proof of fixture exactness end-to-end through the
    distributed path. Without the corpus the query raises
    `reference_case_files()`'s FileNotFoundError."""
    from rust_geo_booleanop_spark.kernel.geojson import reference_case_files
    from rust_geo_booleanop_spark.operators import apply_boolean_ops
    from rust_geo_booleanop_spark.sources import fixture_pairs, read_feature_collections

    cases = reference_case_files()
    features = read_feature_collections(spark, os.path.dirname(cases[0]))
    pairs = fixture_pairs(features)
    res = apply_boolean_ops(
        pairs, ops=("intersection", "union", "diff", "diff_ba", "xor")
    )
    expected = features.filter(
        (F.col("role") == "expected") & F.col("operation").isNotNull()
    ).select(
        "case_key",
        F.col("operation").alias("exp_op"),
        F.col("geom_json").alias("expected_json"),
    )
    joined = res.join(
        expected,
        (res["subject_url"] == expected["case_key"])
        & (res["op"] == expected["exp_op"]),
    )
    return joined.select(
        "case_key",
        "op",
        "n_polys",
        (F.col("result_json") == F.col("expected_json")).alias("exact_match"),
    )


def _g10_raster_zonal(spark, sf_dir):
    from rust_geo_booleanop_spark.sources import raster_zonal_stats

    z = raster_zonal_stats(spark, _zones(spark), width=200, height=200, pixel_size=5.0)
    return z.select("zone_key", "n_points", "min_value", "max_value")


def _g11_dissolve(spark, sf_dir):
    """Distributed union-by-key (two-level salted fold over the kernel).
    Hash-graded since round 4: the oracle fixture is computed WITHOUT
    Spark by the PURE-PYTHON kernel as a FLAT sorted union fold per key —
    deliberately a different fold structure than the operator's salted
    buckets, so the gate cross-checks the distributed path AND that the
    dissolve result is independent of fold grouping
    (scripts/gen_geo_oracle_fixtures.py; sf0.01-specific fixture)."""
    from rust_geo_booleanop_spark.operators import dissolve, extract_geometries
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir))
    subs = geoms.filter(F.col("role") == "subject").withColumn(
        "template_kind", (F.col("case_id") % 8).cast("string")
    )
    out = dissolve(subs, key_col="template_kind", fanin=4)
    return out.select(F.col("key").alias("template_kind"), "n_polys", "status")


def _m01_image_features(spark, sf_dir):
    """Real PNG decode + features over the media table. Hash-graded since
    round 4: the oracle fixture is computed WITHOUT Spark by the
    operator's own pandas bodies (multimodal.synth_media_pdf +
    image_features_pdf; scripts/gen_media_oracle_fixtures.py, d02
    pattern) and joined against the urls the documents view derives —
    cross-checking the mapInPandas/Arrow plumbing against the local
    recompute. Same pattern for m02/m03/m04."""
    from rust_geo_booleanop_spark.operators import image_features, synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(spark, build_documents(spark, sf_dir))
    return image_features(media).select("url", "width", "height", "phash")


def _m02_audio_frames(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import sample_audio_frames, synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(spark, build_documents(spark, sf_dir))
    frames = sample_audio_frames(media, frame_ms=100, max_frames=8)
    return frames.groupBy("url").agg(
        F.count("*").alias("n_frames"), F.max("peak").alias("max_peak")
    )


def _m04_image_resize(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import resize_images, synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(spark, build_documents(spark, sf_dir))
    thumbs = resize_images(media, out_width=16, out_height=16)
    return thumbs.select(
        "url", "out_width", "out_height", F.md5(F.col("thumb")).alias("thumb_md5")
    )


def _m05_image_dedup(spark, sf_dir):
    """Exact image dedup by DECODED pixel content
    (operators/multimodal.py::image_pixel_dedup): duplicate groups are
    constructed by deriving each doc's media url from doc_id % 200, so
    copies exist at every scale factor. Oracle: the per-group pixel
    hashes come from the committed fixture computed by the operator's
    own pandas bodies (scripts/gen_media_oracle_fixtures.py, m01
    pattern); the copy COUNTS are recomputed live in SQL from the
    documents view, so the grouping/aggregation side is independently
    verified."""
    from rust_geo_booleanop_spark.operators import image_pixel_dedup, synth_media

    docs = _t(spark, sf_dir, "documents")
    grp = docs.select(
        F.concat(
            F.lit("img://grp/"), (F.col("doc_id") % 200).cast("string")
        ).alias("url")
    )
    media = synth_media(spark, grp)
    return image_pixel_dedup(media)


def _s07_lsh_topk(spark, sf_dir):
    """Bucketed ANN top-k (candidates share the query's LSH bucket; exact
    cosine rank within the probed bucket only)."""
    from rust_geo_booleanop_spark.operators import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = lsh_cosine_topk(emb, queries, dim=64, k=10, n_planes=8)
    return topk.select("query_id", "vec_id", F.col("rank").alias("sim_rank"))


def _m03_video_frames(spark, sf_dir):
    from rust_geo_booleanop_spark.operators import sample_video_frames, synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(
        spark, build_documents(spark, sf_dir), kinds=("image", "audio", "video")
    )
    frames = sample_video_frames(media, every_ms=1000, max_frames=8)
    return frames.groupBy("url").agg(
        F.count("*").alias("n_frames"), F.max("ts_ms").alias("last_ts_ms")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every query, in oracle_sql() order: the entry named ``name`` runs
    the module function ``_<name>``, and a query exists iff it has an
    oracle."""
    return {name: globals()[f"_{name}"] for name in oracle_sql()}


# Oracles whose committed fixtures are whole-corpus aggregates of the
# correctness gate's scale factor (sf0.01) and therefore only comparable
# there; scripts/check_oracles.py downgrades them to rows-only checks at
# any other sf_dir. Every other oracle is sf-agnostic up to sf0.1 (the
# per-case/per-url fixtures cover sf0.1's id space and the SQL joins
# against the live `documents` view to restrict to the current corpus).
SF001_ONLY_ORACLES = {"d02_simhash_pairs", "g11_dissolve", "s06_ivf_kmeans"}


# d03's full SQL as a constant: d04 embeds it as the pair-set CTE of its
# recursive connected-components closure, so both gates share ONE pair
# definition (mirrors the operator's scale-safe "auto" max_df default:
# shingles in more than max(1000, 0.1% of corpus) docs are dropped before
# the self-join; sizes computed after the filter).
# d10's pair relation, shared verbatim by the d10 oracle and d11's
# recursive-CTE transitive closure (the d03/_D03_SQL pattern): same
# window blocking as d09 (df bounded to [2, 64] mirroring the operator's
# max_df, counting WINDOWS not docs), DISTINCT id pairs, then full
# levenshtein on the normalized (token-joined) text; dist <= 6 keeps
# exact integers only
_D10_SQL = """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(TRIM(text)), '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), norm AS (
                SELECT doc_id, array_to_string(t, ' ') AS ntext, t FROM toks
            ), w AS (
                SELECT doc_id,
                       md5(array_to_string(t[st:st+7], ' ')) AS wkey
                FROM (SELECT doc_id, t,
                             unnest(range(1, len(t) - 8 + 2)) AS st
                      FROM norm WHERE len(t) >= 8)
            ), keys AS (
                SELECT wkey FROM w GROUP BY 1
                HAVING COUNT(*) > 1 AND COUNT(*) <= 64
            ), cand AS (
                SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
                FROM w a JOIN keys USING (wkey) JOIN w b USING (wkey)
                WHERE a.doc_id < b.doc_id
            )
            SELECT c.doc_id_a, c.doc_id_b,
                   CAST(levenshtein(na.ntext, nb.ntext) AS INTEGER) AS dist
            FROM cand c
            JOIN norm na ON na.doc_id = c.doc_id_a
            JOIN norm nb ON nb.doc_id = c.doc_id_b
            WHERE levenshtein(na.ntext, nb.ntext) <= 6
"""

# d05's synthetic-url + normalization CTE, shared by the d05 oracle and
# the d16 per-source url-dup-rate oracle (one normalization
# definition, the _D03_SQL sharing pattern).
_D05_NORM_CTE = """
            WITH u AS (
                SELECT doc_id, source,
                       'HTTPS://WWW.' || source || '.Example.COM/page/'
                       || CAST(doc_id % 7 AS VARCHAR) || '/?utm_source=feed&ref='
                       || CAST(doc_id AS VARCHAR) AS url
                FROM documents
            ), n AS (
                SELECT doc_id, source, url,
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(
                             regexp_replace(
                               regexp_replace(
                                 lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*'))
                                   || regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*', ''),
                                 '&(utm_[a-z0-9]+|ref|fbclid|gclid)=[^&]*', '', 'g'),
                               '\\?(utm_[a-z0-9]+|ref|fbclid|gclid)=[^&]*&', '?'),
                             '\\?(utm_[a-z0-9]+|ref|fbclid|gclid)=[^&]*$', ''),
                           '[?&]+$', ''),
                         '/+$', '') AS url_norm
                FROM u
            )
"""

# d12 containment relation, shared by the d12 oracle and the
# d15 containment-degree oracle (one window/df definition).
_D12_SQL = """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(TRIM(text)), '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), w AS (
                SELECT DISTINCT doc_id,
                       md5(array_to_string(t[st:st+7], ' ')) AS wkey
                FROM (SELECT doc_id, t,
                             unnest(range(1, len(t) - 8 + 2)) AS st
                      FROM toks WHERE len(t) >= 8)
            ), dfk AS (
                SELECT wkey, CAST(COUNT(*) AS BIGINT) AS df
                FROM w GROUP BY 1
            ), bw AS (
                -- ONE consistent df-bounded window space: boilerplate
                -- (df > 64) is excluded from numerators AND denominators
                SELECT w.doc_id, w.wkey
                FROM w JOIN dfk USING (wkey) WHERE dfk.df <= 64
            ), counts AS (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_win
                FROM bw GROUP BY 1
            ), keys AS (
                SELECT wkey FROM dfk WHERE df > 1 AND df <= 64
            ), shared AS (
                SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                       CAST(COUNT(*) AS BIGINT) AS shared_windows
                FROM bw a JOIN keys USING (wkey) JOIN bw b USING (wkey)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT s.doc_id_a, s.doc_id_b, s.shared_windows,
                   ca.n_win AS n_windows_a, cb.n_win AS n_windows_b,
                   CAST(s.shared_windows AS DOUBLE)
                       / CAST(LEAST(ca.n_win, cb.n_win) AS DOUBLE)
                       AS containment
            FROM shared s
            JOIN counts ca ON ca.doc_id = s.doc_id_a
            JOIN counts cb ON cb.doc_id = s.doc_id_b
            WHERE CAST(s.shared_windows AS DOUBLE)
                      / CAST(LEAST(ca.n_win, cb.n_win) AS DOUBLE) >= 0.8
        """

_D03_SQL = """
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(TRIM(text)), '\\s+') AS t FROM documents
            ), sh_all AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                                             i -> array_to_string(t[i:i+2], ' '))) AS shingle
                FROM toks
            ), hot AS (
                SELECT shingle FROM sh_all GROUP BY shingle
                HAVING COUNT(*) > greatest(1000.0, (SELECT COUNT(*) FROM documents) * 0.001)
            ), sh AS (
                SELECT * FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)
            ), sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT s.id_a, s.id_b, s.n_shared,
                   CAST(s.n_shared AS DOUBLE) / CAST(sa.n + sb.n - s.n_shared AS DOUBLE) AS jaccard
            FROM shared s
            JOIN sizes sa ON sa.doc_id = s.id_a
            JOIN sizes sb ON sb.doc_id = s.id_b
            WHERE CAST(s.n_shared AS DOUBLE) / CAST(sa.n + sb.n - s.n_shared AS DOUBLE) >= 0.5
"""


def _langid_sql() -> str:
    """t05 oracle, GENERATED from the classifier's own stopword table
    (operators/text.py:_STOPWORDS) so both sides share one definition:
    tokenize with the identical regex (RE2 and Python `re` agree on a
    literal char class), lowercase, cap at 200 words, count stopword hits
    per language, argmax with strict `>` (ties keep the earlier language
    in table order; zero hits -> 'unknown')."""
    from rust_geo_booleanop_spark.operators.text import _STOPWORDS, _WORD_RE

    langs = list(_STOPWORDS)
    hit_cols = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in sorted(_STOPWORDS[lang]))
        hit_cols.append(
            f"len(list_filter(ws, w -> list_contains([{words}], w))) AS h_{lang}"
        )
    # argmax cascade: lang i wins iff its hits >= every LATER lang's hits
    # (strict-> update means earlier entries win ties)
    branches = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"h_{lang} >= h_{later}" for later in langs[i + 1 :])
        branches.append(f"WHEN {conds} THEN '{lang}'")
    all_zero = " AND ".join(f"h_{lang} = 0" for lang in langs)
    pattern = _WORD_RE.pattern
    return f"""
        WITH words AS (
            SELECT lang,
                   list_transform(regexp_extract_all(COALESCE(text, ''), '{pattern}'),
                                  w -> lower(w))[1:200] AS ws
            FROM documents
        ), hits AS (
            SELECT lang, {', '.join(hit_cols)} FROM words
        ), det AS (
            SELECT lang,
                   CASE WHEN {all_zero} THEN 'unknown'
                        {' '.join(branches)}
                        ELSE '{langs[-1]}' END AS detected_lang
            FROM hits
        )
        SELECT lang, detected_lang, COUNT(*) AS n_docs
        FROM det GROUP BY lang, detected_lang
    """


def _pii_scrub_sql() -> str:
    """t08 oracle, generated from the operator's own regex constants
    (operators/text.py) — patterns use only constructs with identical
    Java-regex/RE2 semantics. DuckDB regexp_replace needs the explicit
    'g' flag (Spark's replaces all matches by default)."""
    from rust_geo_booleanop_spark.operators.text import EMAIL_PATTERN, PHONE_PATTERN

    return f"""
        WITH docs AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or call 555-123-4567 now' AS text
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(text, '{EMAIL_PATTERN}')) AS n_emails,
               len(regexp_extract_all(
                   regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                   '{PHONE_PATTERN}')) AS n_phones,
               md5(regexp_replace(
                   regexp_replace(text, '{EMAIL_PATTERN}', '<EMAIL>', 'g'),
                   '{PHONE_PATTERN}', '<PHONE>', 'g')) AS scrub_fp
        FROM docs
    """


def _stopword_ratio_sql() -> str:
    """t09 oracle: en-stopword token fraction, generated from the same
    stopword table as the operator; the single hits/n division feeds only
    a *20 floor so the bucket is hash-stable."""
    from rust_geo_booleanop_spark.operators.text import _STOPWORDS

    words = ", ".join(f"'{w}'" for w in sorted(_STOPWORDS["en"]))
    return f"""
        WITH toks AS (
            SELECT lang,
                   list_filter(string_split_regex(lower(TRIM(text)), '\\s+'),
                               x -> x != '') AS ts
            FROM documents
        ), ratios AS (
            SELECT lang,
                   CASE WHEN len(ts) > 0
                        THEN CAST(len(list_filter(ts, x -> list_contains([{words}], x))) AS DOUBLE)
                             / CAST(len(ts) AS DOUBLE)
                        ELSE 0.0 END AS r
            FROM toks
        )
        SELECT lang, CAST(FLOOR(r * 20) AS BIGINT) AS bucket, COUNT(*) AS n_docs
        FROM ratios GROUP BY lang, bucket
    """


def _stratified_sample_sql() -> str:
    """t12 oracle: the deterministic md5-prefix sampling rule in SQL, with
    per-stratum hex thresholds generated FROM the operator's
    rate_to_hex_threshold (change the operator, never this SQL). String
    comparison over fixed-width lowercase hex == unsigned integer
    comparison in both engines."""
    from rust_geo_booleanop_spark.operators.sampling import rate_to_hex_threshold

    rates = {"en": 0.5, "de": 0.25, "fr": 0.1}
    default = rate_to_hex_threshold(0.05)
    whens = "".join(
        f" WHEN '{lang}' THEN '{rate_to_hex_threshold(rate)}'"
        for lang, rate in sorted(rates.items())
    )
    return f"""
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
              CASE lang{whens} ELSE '{default}' END
    """


def _quality_filter_sql(
    min_tokens: int = 40,
    min_stopwords: int = 1,
    min_distinct_frac: float = 0.45,
) -> str:
    """t11 oracle: the Gopher-rules CASE chain, generated from the same
    GOPHER_STOPWORDS table as the operator (change the operator constant,
    never this SQL). Rule order matches text.py::gopher_quality_filter
    exactly; n_tokens=0 is caught by the first rule in both engines before
    any division matters, and each ratio is the same single double
    division of exact integers."""
    from rust_geo_booleanop_spark.operators.text import GOPHER_STOPWORDS

    words = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    case = f"""CASE
                 WHEN n_tokens < {min_tokens} THEN 'too_few_tokens'
                 WHEN n_tokens > 100000 THEN 'too_many_tokens'
                 WHEN (CAST(char_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 3.0)
                   OR (CAST(char_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 10.0)
                   THEN 'word_length'
                 WHEN CAST(n_alpha AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.8
                   THEN 'non_alpha'
                 WHEN n_stopwords < {min_stopwords} THEN 'stopwords'
                 WHEN CAST(n_distinct_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)
                      < {min_distinct_frac} THEN 'repetition_distinct'
                 WHEN CAST(top2gram_n AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.18
                   THEN 'repetition_2gram'
               END"""
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\\s+'),
                               x -> x != '') AS tk
            FROM documents
        ), stats AS (
            SELECT doc_id,
                   CAST(len(tk) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_tokens,
                   CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT) AS char_sum,
                   CAST(len(list_intersect(list_distinct(tk), [{words}])) AS BIGINT) AS n_stopwords,
                   CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha
            FROM toks
        ), grams AS (
            SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram
            FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
        ), gc AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
        ), topg AS (
            SELECT doc_id, MAX(c) AS m FROM gc GROUP BY 1
        ), j AS (
            SELECT s.*, CAST(COALESCE(t.m, 0) AS BIGINT) AS top2gram_n
            FROM stats s LEFT JOIN topg t USING (doc_id)
        )
        SELECT doc_id, n_tokens, n_stopwords,
               ({case}) IS NULL AS keep,
               {case} AS fail_reason
        FROM j
    """


def _lsh_bucket_sql(dim: int = 64, n_planes: int = 8, seed: int = 7) -> str:
    """s02 oracle: the random-hyperplane bucket ids as literal-constant SQL.

    The planes are seeded numpy constants, so they embed as double
    literals (repr round-trips exactly; DuckDB's parser is correctly
    rounded). Each dot product is the SAME left-fold the Spark UDF
    computes (similarity.py:_fold_dots — deliberately not BLAS): a chained
    `p0*e[1] + p1*e[2] + ...` evaluates left-associatively, so the FP
    result is bit-identical and the sign test agrees."""
    from rust_geo_booleanop_spark.operators.similarity import _hyperplanes

    dot_exprs, bucket = _lsh_bucket_exprs(dim, n_planes, seed)
    return f"""
        WITH dots AS (
            SELECT vec_id, {', '.join(dot_exprs)} FROM embeddings
        )
        SELECT CAST({bucket} AS BIGINT) AS lsh_bucket, COUNT(*) AS n_vectors
        FROM dots GROUP BY 1
    """


def _lsh_bucket_exprs(dim: int, n_planes: int, seed: int):
    from rust_geo_booleanop_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)
    dot_exprs = []
    for j in range(n_planes):
        terms = " + ".join(
            f"({planes[j, k]!r} * embedding[{k + 1}])" for k in range(dim)
        )
        dot_exprs.append(f"{terms} AS d{j}")
    bucket = " + ".join(
        f"(CASE WHEN d{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_planes)
    )
    return dot_exprs, bucket


def _lsh_neardup_sql(
    dim: int = 64,
    n_planes: int = 3,
    n_tables: int = 12,
    threshold: float = 0.3,
    seed: int = 7,
) -> str:
    """s03 oracle: multi-table LSH near-dup pairs. Every table's planes
    (similarity.py:with_lsh_tables — seeds seed+1000*t) embed as double
    literals; per-table buckets carry the table tag in the high bits
    exactly like the UDF; candidate pairs sharing ANY table's bucket are
    deduped and verified with the exact guarded cosine (threshold margin
    is corpus-safe per the s05 analysis)."""
    from rust_geo_booleanop_spark.operators.similarity import _hyperplanes

    bucket_exprs = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        signs = []
        for j in range(n_planes):
            terms = " + ".join(
                f"({planes[j, k]!r} * embedding[{k + 1}])" for k in range(dim)
            )
            signs.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << j} ELSE 0 END)")
        bucket_exprs.append(f"CAST({t << 48} + {' + '.join(signs)} AS BIGINT)")
    cos = _cos_sql("a.embedding", "b.embedding")
    return f"""
        WITH buckets AS (
            SELECT vec_id, unnest([{', '.join(bucket_exprs)}]) AS b
            FROM embeddings
        ), pairs AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM buckets x JOIN buckets y ON x.b = y.b AND x.vec_id < y.vec_id
        )
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN embeddings a ON a.vec_id = p.id_a
        JOIN embeddings b ON b.vec_id = p.id_b
        WHERE {cos} >= {threshold}
    """


def _lsh_topk_sql(dim: int = 64, n_planes: int = 8, seed: int = 7) -> str:
    """s07 oracle: same literal-hyperplane buckets as s02, then exact
    cosine top-k WITHIN the query's bucket only (the bucketed-ANN
    contract — recall < 1 is part of the defined semantics, so the
    oracle reproduces the bucketing, not a full scan)."""
    dot_exprs, bucket = _lsh_bucket_exprs(dim, n_planes, seed)
    cos = _cos_sql("e.embedding", "q.query_vec")
    return f"""
        WITH dots AS (
            SELECT vec_id, embedding, {', '.join(dot_exprs)} FROM embeddings
        ), buckets AS (
            SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS b FROM dots
        ), q AS (
            SELECT vec_id AS query_id, embedding AS query_vec, b
            FROM buckets WHERE vec_id < 3
        )
        SELECT query_id, vec_id, sim_rank FROM (
            SELECT q.query_id, e.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {cos} DESC NULLS LAST, e.vec_id ASC
                   ) AS sim_rank
            FROM buckets e JOIN q ON e.b = q.b
        ) WHERE sim_rank <= 10
    """


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine with the SAME zero-norm + non-finite guards as the
    Spark side's `_cosine` (similarity.py): NULL, never NaN/inf.

    Built from the explicit IEEE quotient, NOT list_cosine_similarity —
    that function CLAMPS its result to [-1, 1], so a NaN (from a NaN
    embedding component) silently becomes a finite -1.0 the guard cannot
    see, and the row would rank while Spark's NULL sorts last. The lists
    are cast to DOUBLE[] first: DuckDB otherwise accumulates FLOAT[]
    inner products in binary32, which overflows to inf for large-finite
    components (~2e19+) where Spark's double fold stays finite — the
    cast puts both engines in double accumulation. With that, both
    produce the same NULL set: zero-norm -> NULL (denom guard), NaN/inf
    similarity -> NULL (isfinite), finite dot over inf denom -> 0.0 on
    both."""
    ad = f"CAST({a} AS DOUBLE[])"
    bd = f"CAST({b} AS DOUBLE[])"
    num = f"list_inner_product({ad}, {bd})"
    den = (
        f"(sqrt(list_inner_product({ad}, {ad})) * "
        f"sqrt(list_inner_product({bd}, {bd})))"
    )
    return (
        f"CASE WHEN {den} > 0 AND isfinite({num} / {den}) "
        f"THEN {num} / {den} END"
    )


# url set of the current corpus, derived from the live documents view
# (sources/documents.py::synth_url in SQL) — the SINGLE definition shared
# by every media oracle in oracle_sql(); a change to synth_url is
# a one-place edit, never a missed copy that empties an oracle join
_URLS_CTE = """
            urls AS (
                SELECT 'https://geo.example/case/' || CAST(doc_id // 2 AS VARCHAR)
                       || CASE WHEN doc_id % 2 = 0 THEN '/subject' ELSE '/clipping' END AS url
                FROM documents
            )
    """


def oracle_sql() -> dict[str, str]:
    """The query registry: name -> oracle SQL, in grading order.

    The driver grades only the first 50 entries, so queries that have
    never been driver-graded go first; every entry past position 50 is
    hash-green in a committed CORRECTNESS_r*.json (tests/test_contract.py
    pins this)."""
    pts = _POINTS_SQL
    zones = _ZONES_SQL
    fixdir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "tests", "oracle_fixtures"
    )
    urls_cte = _URLS_CTE
    cases_cte = "cases AS (SELECT DISTINCT doc_id // 2 AS case_id FROM documents)"

    def _l2sq_sql(a: str, b: str, start: int, width: int) -> str:
        # chained left-fold L2^2 over a subspace slice, double arithmetic
        # only — operation-for-operation the same fold as
        # operators/similarity.py::_sub_l2sq (0.0 + first term == first
        # term: distances are sums of non-negative squares, never -0.0)
        terms = [
            f"((CAST({a}[{k}] AS DOUBLE) - CAST({b}[{k}] AS DOUBLE))"
            f" * (CAST({a}[{k}] AS DOUBLE) - CAST({b}[{k}] AS DOUBLE)))"
            for k in range(start + 1, start + width + 1)
        ]
        return "(0.0 + " + " + ".join(terms) + ")"

    _PQ_M, _PQ_W = 8, 8  # 8 subspaces x 8 dims — keep == _s08_pq_topk
    pq_d = ",\n                       ".join(
        f"{_l2sq_sql('e.embedding', 'p.pivot_vec', s * _PQ_W, _PQ_W)} AS d{s}"
        for s in range(_PQ_M)
    )
    pq_q = ",\n                       ".join(
        f"{_l2sq_sql('q.embedding', 'p.pivot_vec', s * _PQ_W, _PQ_W)} AS qd{s}"
        for s in range(_PQ_M)
    )
    pq_rn = ",\n                           ".join(
        f"ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d{s} ASC, pivot_id ASC) AS rn{s}"
        for s in range(_PQ_M)
    )
    pq_code = ",\n                       ".join(
        f"MAX(CASE WHEN rn{s} = 1 THEN pivot_id END) AS code{s}"
        for s in range(_PQ_M)
    )
    pq_joins = "\n                ".join(
        f"JOIN qd q{s} ON q{s}.pivot_id = e.code{s} AND q{s}.query_id = q0.query_id"
        for s in range(1, _PQ_M)
    )
    pq_adc = " + ".join(f"q{s}.qd{s}" for s in range(_PQ_M))
    return {
        # st01: the watermark cut recomputed in SQL — hourly windows whose
        # end the final watermark (max ts - 2h) has passed; single-batch
        # ingestion makes the emitted set exactly this relation.
        "st01_stream_window_counts": """
            WITH m AS (SELECT MAX(ts) AS mx FROM events),
            w AS (
                SELECT date_trunc('hour', ts) AS window_start, event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_events, MAX(value) AS max_value
                FROM events GROUP BY 1, 2)
            SELECT window_start,
                   window_start + INTERVAL 1 HOUR AS window_end,
                   event_type, n_events, max_value
            FROM w, m
            WHERE window_start + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR
        """,
        # st02: kept rows == distinct normalized text keys, with ALL
        # NULL-text rows collapsing into one key (streaming dropDuplicates
        # semantics; regexp_replace needs 'g' in duckdb).
        "st02_stream_exact_dedup": r"""
            SELECT CAST(
                     COUNT(DISTINCT LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g'))))
                     + CASE WHEN COUNT(*) FILTER (WHERE text IS NULL) > 0
                            THEN 1 ELSE 0 END
                   AS BIGINT) AS n_unique_texts
            FROM documents
        """,
        # g33: identical fixture oracle as g01 — the salted pair formation
        # must reproduce the pure-python kernel's per-(case, op) counts.
        "g33_salted_boolean_pipeline": f"""
            WITH cases AS (SELECT DISTINCT doc_id // 2 AS case_id FROM documents)
            SELECT f.case_id, f.op, f.n_polys
            FROM read_parquet('{fixdir}/g01_npolys_sf01.parquet') f
            JOIN cases USING (case_id)
        """,
        # r38: the plain (unsalted) join the salted plan must equal;
        # decimal-exact revenue per the r01 pattern.
        "r38_salted_join_revenue": """
            SELECT s_nationkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2))
                               - CAST(l_discount AS DECIMAL(18,2))))
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey
        """,
        # g34: identical integer-derived box relation, identical strict
        # containment predicate (theta join is the definition here).
        "g34_bbox_containment_join": f"""
            WITH boxes AS ({_R6_BOXES_SQL})
            SELECT a.box_id AS parent_id, b.box_id AS child_id
            FROM boxes a JOIN boxes b
              ON a.box_id != b.box_id
             AND a.xmin <= b.xmin AND a.xmax >= b.xmax
             AND a.ymin <= b.ymin AND a.ymax >= b.ymax
        """,
        # g35: loose-quadtree level assignment — integer floor/compare only;
        # SUM over BIGINT is HUGEINT in duckdb, hence the CAST.
        "g35_bbox_zone_hierarchy": f"""
            WITH boxes AS ({_R6_BOXES_SQL}),
            z AS (
                SELECT box_id,
                       CAST(FLOOR(xmin / 200.0) AS BIGINT) AS zx,
                       CAST(FLOOR(ymin / 200.0) AS BIGINT) AS zy,
                       xmin, ymin, xmax, ymax
                FROM boxes)
            SELECT CASE WHEN xmax <= (zx + 1) * 200.0 AND ymax <= (zy + 1) * 200.0
                             AND zx < 5 AND zy < 5
                        THEN zx * 5 + zy ELSE -1 END AS zone_key,
                   CAST(COUNT(*) AS BIGINT) AS n_boxes,
                   CAST(SUM(CAST((xmax - xmin) * (ymax - ymin) AS BIGINT)) AS BIGINT)
                       AS area_sum
            FROM z GROUP BY 1
        """,
        # g37/g38: occupied 50-cell grid + 8-offset equi-join; all integer.
        "g37_cell_neighbor_occupancy": """
            WITH cells AS (
                SELECT CAST(event_id % 997 AS BIGINT) // 50 AS gx,
                       CAST((event_id * 31) % 983 AS BIGINT) // 50 AS gy,
                       CAST(COUNT(*) AS BIGINT) AS n_points
                FROM events GROUP BY 1, 2),
            offs AS (
                SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                           (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
            hits AS (
                SELECT c.gx, c.gy, CAST(COUNT(*) AS BIGINT) AS n_neighbors
                FROM cells c JOIN offs o ON TRUE
                JOIN cells n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
                GROUP BY c.gx, c.gy)
            SELECT c.gx, c.gy, c.n_points,
                   COALESCE(h.n_neighbors, 0) AS n_neighbors
            FROM cells c LEFT JOIN hits h ON h.gx = c.gx AND h.gy = c.gy
        """,
        "g38_neighbor_degree_histogram": """
            WITH cells AS (
                SELECT CAST(event_id % 997 AS BIGINT) // 50 AS gx,
                       CAST((event_id * 31) % 983 AS BIGINT) // 50 AS gy
                FROM events GROUP BY 1, 2),
            offs AS (
                SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),
                                           (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)),
            deg AS (
                SELECT c.gx, c.gy, CAST(COUNT(n.gx) AS BIGINT) AS n_neighbors
                FROM cells c JOIN offs o ON TRUE
                LEFT JOIN cells n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
                GROUP BY c.gx, c.gy)
            SELECT n_neighbors, CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM deg GROUP BY n_neighbors
        """,
        # g40: one double division of exact ints; zone expr shared with g31.
        "g40_zone_coverage_by_type": """
            WITH per AS (
                SELECT event_type,
                       CAST(COUNT(DISTINCT (event_id % 997) // 200 * 5
                                  + ((event_id * 31) % 983) // 200) AS BIGINT)
                           AS n_zones
                FROM events GROUP BY event_type)
            SELECT event_type, n_zones,
                   CAST(n_zones AS DOUBLE) / 25.0 AS coverage_share
            FROM per
        """,
        # g41: the quadratic NN definition (g25's arg-min struct shape),
        # bucketed by integer division of the exact squared distance.
        "g41_nn_distance_histogram": """
            WITH p AS (
                SELECT event_id AS point_id,
                       CAST(event_id % 997 AS DOUBLE) AS x,
                       CAST((event_id * 31) % 983 AS DOUBLE) AS y
                FROM events),
            q AS (SELECT * FROM p WHERE point_id % 20 = 0),
            d AS (
                SELECT q.point_id AS query_id,
                       CAST(MIN((p.x - q.x) * (p.x - q.x)
                                + (p.y - q.y) * (p.y - q.y)) AS BIGINT) AS d2
                FROM q JOIN p ON p.point_id != q.point_id
                GROUP BY q.point_id)
            SELECT d2, CAST(COUNT(*) AS BIGINT) AS n_points
            FROM d GROUP BY 1
        """,
        # g43: lag over the same (ts, event_id) total order; int64 hop
        # distances so the distributed sum is exact (HUGEINT -> CAST).
        "g43_trajectory_sq_length": """
            WITH pts AS (
                SELECT user_id, ts, event_id,
                       CAST(event_id % 997 AS DOUBLE) AS x,
                       CAST((event_id * 31) % 983 AS DOUBLE) AS y
                FROM events),
            hops AS (
                SELECT user_id,
                       LAG(x) OVER w AS px, LAG(y) OVER w AS py, x, y
                FROM pts
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
            d AS (
                SELECT user_id,
                       CAST((x - px) * (x - px) + (y - py) * (y - py) AS BIGINT) AS d2
                FROM hops WHERE px IS NOT NULL)
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_hops,
                   CAST(SUM(d2) AS BIGINT) AS sq_length_sum,
                   CAST(MAX(d2) AS BIGINT) AS sq_length_max
            FROM d GROUP BY user_id
        """,
        # t27: snapshot = doc_id DIV 600 (warc_ts is doc_id seconds past the
        # epoch); int64 counts/sums, one double division vs snapshot totals.
        "t27_composition_drift": f"""
            WITH per AS (
                SELECT source, doc_id // 600 AS snapshot,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(len({_R6_TOK})) AS BIGINT) AS token_sum
                FROM documents GROUP BY 1, 2),
            tot AS (
                SELECT snapshot, CAST(SUM(n_docs) AS BIGINT) AS snap_docs
                FROM per GROUP BY snapshot)
            SELECT source, per.snapshot, n_docs, token_sum,
                   CAST(n_docs AS DOUBLE) / CAST(snap_docs AS DOUBLE) AS snap_share
            FROM per JOIN tot ON per.snapshot = tot.snapshot
        """,
        # t28: the t04 quality expression VERBATIM (hash-green parity), so
        # floor(quality*10) buckets identically; dup rate per bucket.
        "t28_quality_calibration": r"""
            WITH q AS (
                SELECT doc_id, text,
                       (LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0)
                        + CASE WHEN space_ratio >= 0.05 AND space_ratio <= 0.3
                               THEN 1.0 ELSE 0.5 END
                        + (1.0 - LEAST(digit_ratio * 4.0, 1.0))) / 3.0 AS quality
                FROM (
                    SELECT doc_id, text,
                           (LENGTH(text) - LENGTH(regexp_replace(text, '\s', '', 'g')))
                               / (CASE WHEN LENGTH(text) > 0
                                       THEN CAST(LENGTH(text) AS DOUBLE)
                                       ELSE 1.0 END) AS space_ratio,
                           (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))
                               / (CASE WHEN LENGTH(text) > 0
                                       THEN CAST(LENGTH(text) AS DOUBLE)
                                       ELSE 1.0 END) AS digit_ratio
                    FROM documents)),
            per AS (
                SELECT LEAST(CAST(FLOOR(quality * 10) AS BIGINT), 9) AS q_bucket,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(COUNT(DISTINCT
                            LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g'))))
                         AS BIGINT) AS n_unique
                FROM q GROUP BY 1)
            SELECT q_bucket, n_docs, n_unique,
                   CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS dup_rate
            FROM per
        """,
        # t29: [.!?]+ sentence split (identical Java/RE2 class), trimmed
        # non-empty; int64 sums, one guarded division.
        "t29_sentence_stats": f"""
            WITH per AS (
                SELECT lang,
                       CAST(len(list_filter(list_transform(
                            string_split_regex(COALESCE(text, ''), '[.!?]+'),
                            x -> TRIM(x)), x -> x != '')) AS BIGINT) AS n_sent,
                       CAST(len({_R6_TOK}) AS BIGINT) AS n_tok
                FROM documents)
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_sent) AS BIGINT) AS sent_sum,
                   CAST(SUM(n_tok) AS BIGINT) AS token_sum,
                   CASE WHEN SUM(n_sent) > 0
                        THEN CAST(SUM(n_tok) AS DOUBLE) / CAST(SUM(n_sent) AS DOUBLE)
                   END AS tokens_per_sentence
            FROM per GROUP BY lang
        """,
        # t30: per-lang vocab cut under the (count DESC, token ASC) total
        # order (t20's global pattern, grouped).
        "t30_token_topk_per_lang": f"""
            WITH tok AS (
                SELECT lang, UNNEST({_R6_TOK_LOWER}) AS tok FROM documents),
            c AS (
                SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n
                FROM tok GROUP BY 1, 2),
            r AS (
                SELECT lang, tok, n,
                       CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                               ORDER BY n DESC, tok ASC) AS BIGINT)
                           AS rnk
                FROM c)
            SELECT lang, tok, n, rnk FROM r WHERE rnk <= 5
        """,
        # t31: first-4-token prefix groups (duckdb 1-based inclusive slice
        # [1:4] == Spark slice(.., 1, 4), r37-proven).
        "t31_prefix_dup_groups": f"""
            WITH p AS (
                SELECT doc_id,
                       array_to_string(({_R6_TOK_LOWER})[1:4], ' ') AS prefix
                FROM documents)
            SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
            FROM p GROUP BY prefix HAVING COUNT(*) >= 2
        """,
        # t32: LENGTH-difference char classes (t04 idiom; 'g' flag required).
        "t32_char_class_profile": r"""
            WITH per AS (
                SELECT lang,
                       CAST(LENGTH(COALESCE(text, '')) AS BIGINT) AS c,
                       CAST(LENGTH(COALESCE(text, ''))
                            - LENGTH(regexp_replace(COALESCE(text, ''),
                                                    '[A-Za-z]', '', 'g')) AS BIGINT) AS l,
                       CAST(LENGTH(COALESCE(text, ''))
                            - LENGTH(regexp_replace(COALESCE(text, ''),
                                                    '[0-9]', '', 'g')) AS BIGINT) AS dg,
                       CAST(LENGTH(COALESCE(text, ''))
                            - LENGTH(regexp_replace(COALESCE(text, ''),
                                                    '\s', '', 'g')) AS BIGINT) AS sp
                FROM documents)
            SELECT lang,
                   CAST(SUM(c) AS BIGINT) AS n_chars,
                   CAST(SUM(l) AS BIGINT) AS n_letters,
                   CAST(SUM(dg) AS BIGINT) AS n_digits,
                   CAST(SUM(sp) AS BIGINT) AS n_spaces,
                   CAST(SUM(c) - SUM(l) - SUM(dg) - SUM(sp) AS BIGINT) AS n_other
            FROM per GROUP BY lang
        """,
        # t33: h11's pure-integer rank selection per source.
        "t33_length_quartiles_by_source": f"""
            WITH lens AS (
                SELECT source, doc_id,
                       CAST(len({_R6_TOK}) AS BIGINT) AS n_tokens
                FROM documents),
            ranked AS (
                SELECT source, n_tokens,
                       ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY n_tokens ASC, doc_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM lens)
            SELECT source, p.pct AS pct, n_tokens AS value,
                   CAST(n AS BIGINT) AS n_rows
            FROM ranked, (SELECT UNNEST([25, 50, 75]) AS pct) p
            WHERE rn = GREATEST(1, (p.pct * n + 99) // 100)
        """,
        # t34: trimmed-non-empty line frequencies per doc (d06 tokenizer).
        "t34_line_stats": r"""
            WITH lines AS (
                SELECT doc_id,
                       UNNEST(list_filter(list_transform(
                           string_split_regex(COALESCE(text, ''), '\n'),
                           x -> TRIM(x)), x -> x != '')) AS line
                FROM documents),
            per AS (
                SELECT doc_id, line, CAST(COUNT(*) AS BIGINT) AS c
                FROM lines GROUP BY 1, 2)
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_lines,
                   CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
                   CAST(MAX(c) AS BIGINT) AS max_line_freq
            FROM per GROUP BY doc_id
        """,
        # t35: integer-exact TTR buckets — (10*d) // n, no FP boundary.
        "t35_ttr_buckets": f"""
            WITH per AS (
                SELECT CAST(len({_R6_TOK_LOWER}) AS BIGINT) AS n_tok,
                       CAST(len(list_distinct({_R6_TOK_LOWER})) AS BIGINT) AS n_dist
                FROM documents)
            SELECT (10 * n_dist) // n_tok AS ttr_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM per WHERE n_tok > 0 GROUP BY 1
        """,
        # t36: normalized-key lang spread histogram.
        "t36_crosslang_dup_leakage": r"""
            WITH per AS (
                SELECT LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g'))) AS k,
                       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
                FROM documents WHERE text IS NOT NULL GROUP BY 1)
            SELECT n_langs, CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM per GROUP BY n_langs
        """,
        # t37: d03's exact shingle CTE (whole-seq fallback + per-doc
        # DISTINCT), df bucketed by fixed CASE arms.
        "t37_shingle_df_histogram": r"""
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(TRIM(text)), '\s+') AS t
                FROM documents),
            sh_all AS (
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                                             i -> array_to_string(t[i:i+2], ' ')))
                           AS shingle
                FROM toks),
            dfs AS (
                SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
                FROM sh_all GROUP BY shingle)
            SELECT CASE WHEN df = 1 THEN '1' WHEN df <= 3 THEN '2-3'
                        WHEN df <= 7 THEN '4-7' ELSE '8+' END AS df_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_shingles
            FROM dfs GROUP BY 1
        """,
        "t38_pii_density_by_source": _t38_pii_sql(),
        # h21: date_diff('second') boundary count == unix_timestamp diff.
        "h21_activity_span": """
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
                   CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS span_sec
            FROM events GROUP BY user_id
        """,
        # h22: same (ts, event_id) lag order; whole-second gaps, fixed CASE.
        "h22_gap_histogram": """
            WITH g AS (
                SELECT date_diff('second', LAG(ts) OVER w, ts) AS gap_sec
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
            SELECT CASE WHEN gap_sec < 60 THEN 'lt_1m'
                        WHEN gap_sec < 3600 THEN 'lt_1h'
                        WHEN gap_sec < 86400 THEN 'lt_1d'
                        ELSE 'ge_1d' END AS gap_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_gaps
            FROM g WHERE gap_sec IS NOT NULL GROUP BY 1
        """,
        "h23_hourly_profile": """
            SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY 1, 2
        """,
        "h24_type_diversity": """
            WITH per AS (
                SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
                FROM events GROUP BY user_id)
            SELECT n_types, CAST(COUNT(*) AS BIGINT) AS n_users
            FROM per GROUP BY n_types
        """,
        # h25: active days theta-joined to the bounded per-day new-user
        # relation (the h16 no-window pattern on both sides); the running
        # total carries forward over days with no new users.
        "h25_daily_new_users": """
            WITH days AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
            active AS (
                SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
                FROM days GROUP BY d),
            first AS (SELECT user_id, MIN(d) AS fd FROM days GROUP BY user_id),
            nw AS (SELECT fd AS nd, CAST(COUNT(*) AS BIGINT) AS pn
                   FROM first GROUP BY fd)
            SELECT a.d, a.n_active,
                   CAST(SUM(CASE WHEN nw.nd = a.d THEN nw.pn ELSE 0 END) AS BIGINT)
                       AS n_new,
                   CAST(SUM(nw.pn) AS BIGINT) AS cum_users
            FROM active a JOIN nw ON nw.nd <= a.d
            GROUP BY a.d, a.n_active
        """,
        "h26_top2_share": """
            WITH per AS (
                SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
            t2 AS (
                SELECT event_type, CAST(SUM(n) AS BIGINT) AS top2_events
                FROM (SELECT event_type, n,
                             ROW_NUMBER() OVER (PARTITION BY event_type
                                                ORDER BY n DESC, user_id ASC) AS rn
                      FROM per)
                WHERE rn <= 2 GROUP BY event_type),
            tot AS (
                SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_events
                FROM per GROUP BY event_type)
            SELECT tot.event_type, n_events, top2_events,
                   CAST(top2_events AS DOUBLE) / CAST(n_events AS DOUBLE)
                       AS top2_share
            FROM tot JOIN t2 ON tot.event_type = t2.event_type
        """,
        # h27: lexicographic struct-MIN/MAX arg-extremes (g25 idiom).
        "h27_value_extremes": """
            WITH e AS (SELECT * FROM events WHERE value IS NOT NULL),
            agg AS (
                SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                       MIN(struct_pack(value := value, event_id := event_id)) AS mn,
                       MAX(struct_pack(value := value, event_id := event_id)) AS mx
                FROM e GROUP BY event_type)
            SELECT event_type, n_events,
                   mn.value AS min_value, mn.event_id AS min_event_id,
                   mx.value AS max_value, mx.event_id AS max_event_id
            FROM agg
        """,
        "h28_props_histogram": """
            WITH k AS (
                SELECT event_type,
                       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                FROM events)
            SELECT event_type, k // 10 AS k_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM k WHERE k IS NOT NULL GROUP BY 1, 2
        """,
        "r39_star_join_rollup": """
            SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS total_revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "r40_universal_quantifier": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_totalprice < 50.0)
        """,
        "r41_order_ship_lag": """
            WITH j AS (
                SELECT o_orderpriority,
                       date_diff('day', CAST(o_orderdate AS DATE),
                                 CAST(l_shipdate AS DATE)) AS lag
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
            SELECT o_orderpriority,
                   CASE WHEN lag < 30 THEN 'lt_30d'
                        WHEN lag < 60 THEN 'lt_60d'
                        WHEN lag < 90 THEN 'lt_90d'
                        ELSE 'ge_90d' END AS lag_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM j GROUP BY 1, 2
        """,
        "r42_conditional_agg": """
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CASE WHEN l_quantity >= 30.0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_big,
                   CAST(SUM(CASE WHEN l_quantity >= 30.0
                                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                       AS big_price_sum,
                   MAX(CASE WHEN l_quantity >= 30.0 THEN l_quantity END)
                       AS max_big_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "r43_grouped_concat": """
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
                   array_to_string(list_sort(list(c_name))[1:3], ',')
                       AS first3_names
            FROM customer GROUP BY c_nationkey
        """,
        "s14_hamming_nn_degree": _s14_nn_degree_sql(),
        # s15: bucket sizes of the s02 relation, re-aggregated.
        "s15_lsh_bucket_size_histogram": f"""
            WITH b AS ({_lsh_bucket_sql()})
            SELECT CAST(n_vectors AS BIGINT) AS bucket_size,
                   CAST(COUNT(*) AS BIGINT) AS n_buckets
            FROM b GROUP BY 1
        """,
        "s16_dim_sign_profile": _s16_sign_sql(),
        "s17_bucket_label_purity": _s17_purity_sql(),
        "d14_dup_class_histogram": r"""
            WITH per AS (
                SELECT LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g'))) AS k,
                       CAST(COUNT(*) AS BIGINT) AS class_size
                FROM documents WHERE text IS NOT NULL GROUP BY 1)
            SELECT class_size, CAST(COUNT(*) AS BIGINT) AS n_classes
            FROM per GROUP BY class_size
        """,
        # d15: the SAME _D12_SQL pair relation, degree-aggregated.
        "d15_containment_degree": f"""
            WITH pairs AS ({_D12_SQL}),
            ends AS (
                SELECT doc_id_a AS doc_id FROM pairs
                UNION ALL
                SELECT doc_id_b AS doc_id FROM pairs),
            deg AS (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
                FROM ends GROUP BY doc_id)
            SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM deg GROUP BY degree
        """,
        # d16: the SAME _D05_NORM_CTE normalization, per-source dup rate.
        "d16_url_dup_rate_by_source": f"""
            {_D05_NORM_CTE},
            per AS (
                SELECT source, CAST(COUNT(*) AS BIGINT) AS n_urls,
                       CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_canonical
                FROM n GROUP BY source)
            SELECT source, n_urls, n_canonical,
                   CAST(n_urls - n_canonical AS DOUBLE) / CAST(n_urls AS DOUBLE)
                       AS dup_rate
            FROM per
        """,
        "d17_dup_savings_by_source": r"""
            WITH keyed AS (
                SELECT source, doc_id, n_chars,
                       LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g'))) AS k
                FROM documents WHERE text IS NOT NULL),
            r AS (
                SELECT source, n_chars,
                       ROW_NUMBER() OVER (PARTITION BY source, k
                                          ORDER BY doc_id ASC) AS rn
                FROM keyed)
            SELECT source,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT)
                       AS kept_chars,
                   CAST(SUM(CASE WHEN rn > 1 THEN n_chars ELSE 0 END) AS BIGINT)
                       AS saved_chars
            FROM r GROUP BY source
        """,
        "g42_morton_range_count": _g42_range_sql(),
        # g36: python-kernel + CPython-winding-twin fixture, live-case join.
        "g36_ring_winding_audit": f"""
            WITH cases AS (SELECT DISTINCT doc_id // 2 AS case_id FROM documents)
            SELECT f.op, f.orientation, f.is_hole,
                   CAST(SUM(f.n_rings) AS BIGINT) AS n_rings
            FROM read_parquet('{fixdir}/g36_winding_sf01.parquet') f
            JOIN cases USING (case_id)
            GROUP BY 1, 2, 3
        """,
        # m09: the m06 per-frame fixture, bucketed in SQL.
        "m09_audio_zc_histogram": f"""
            WITH {_URLS_CTE}
            SELECT f.n_zc // 100 AS zc_bucket, CAST(COUNT(*) AS BIGINT) AS n_frames
            FROM read_parquet('{fixdir}/m06_audio_energy_sf01.parquet') f
            JOIN urls USING (url)
            GROUP BY 1
        """,
        # m10: the m07 per-image fixture, integer-mean bucketed in SQL.
        "m10_image_brightness_histogram": f"""
            WITH {_URLS_CTE}
            SELECT (f.pixel_sum // f.n_pixels) // 32 AS brightness_bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_images
            FROM read_parquet('{fixdir}/m07_image_stats_sf01.parquet') f
            JOIN urls USING (url)
            WHERE f.n_pixels > 0
            GROUP BY 1
        """,
        # m11: the operator-bytes fixture aggregated per kind.
        "m11_media_size_stats": f"""
            WITH {_URLS_CTE}
            SELECT f.kind, CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(f.n_bytes) AS BIGINT) AS total_bytes,
                   CAST(MIN(f.n_bytes) AS BIGINT) AS min_bytes,
                   CAST(MAX(f.n_bytes) AS BIGINT) AS max_bytes,
                   CAST(SUM(f.duration_ms) AS BIGINT) AS total_duration_ms
            FROM read_parquet('{fixdir}/m11_media_sizes_sf01.parquet') f
            JOIN urls USING (url)
            GROUP BY f.kind
        """,
        # st03: the batch gap rule (exact integer microseconds, r16
        # semantics) minus each user's LAST session (it stays open in
        # streaming state and never emits under NoTimeout).
        "st03_stream_sessionize": """
            WITH o AS (
                SELECT user_id, ts, event_id, epoch_us(ts) AS tus,
                       LAG(epoch_us(ts)) OVER w AS prev
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
            f AS (
                SELECT user_id, ts, event_id, tus,
                       CASE WHEN prev IS NULL OR tus - prev > 1800000000
                            THEN 1 ELSE 0 END AS ns
                FROM o),
            s AS (
                SELECT user_id, ts,
                       SUM(ns) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS sid
                FROM f),
            sess AS (
                SELECT user_id, sid, MIN(ts) AS session_start,
                       MAX(ts) AS session_end,
                       CAST(COUNT(*) AS BIGINT) AS n_events
                FROM s GROUP BY user_id, sid),
            closed AS (
                SELECT * FROM sess
                WHERE sid < (SELECT MAX(s2.sid) FROM sess s2
                             WHERE s2.user_id = sess.user_id))
            SELECT user_id, session_start, session_end, n_events FROM closed
        """,
        # same ANSI text as the Spark query (decimal-exact revenue, r01
        # pattern; GROUPING bits disambiguate null-key rows)
        "r23_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER)
                       AS gid,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                        AS DOUBLE) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        # h10: t10's exact-integer token expressions (string_split_regex +
        # list_filter == Spark split + filter; list_distinct ==
        # array_distinct) feed a textbook NOT EXISTS dominance test —
        # quadratic is fine for the oracle (it is the definition), the
        # Spark side uses the distributive partial-frontier fold.
        "h10_skyline": r"""
            WITH m AS (
                SELECT doc_id,
                       CAST(len(tk) AS BIGINT) AS n_tokens,
                       CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct
                FROM (SELECT doc_id,
                             list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\s+'),
                                         x -> x != '') AS tk
                      FROM documents)
            )
            SELECT a.doc_id, a.n_tokens, a.n_distinct FROM m a
            WHERE NOT EXISTS (
                SELECT 1 FROM m b
                WHERE b.n_tokens <= a.n_tokens AND b.n_distinct >= a.n_distinct
                  AND (b.n_tokens < a.n_tokens OR b.n_distinct > a.n_distinct))
        """,
        # h11: the identical pure-integer rank selection (no quantile builtin
        # on either side — DuckDB's quantile_disc interpolation convention is
        # irrelevant because both engines run the same rank formula). `//` is
        # DuckDB integer division == Spark DIV on BIGINT.
        "h11_group_quantiles": """
            WITH ranked AS (
                SELECT event_type, value AS v,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY value ASC, event_id ASC) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM events WHERE value IS NOT NULL)
            SELECT event_type, p.pct AS pct, v AS value, n AS n_rows
            FROM ranked, (SELECT UNNEST([25, 50, 75, 90]) AS pct) p
            WHERE rn = GREATEST(1, (p.pct * n + 99) // 100)
        """,
        # h12: same (count DESC, value ASC) total tie-break; SUM-free so no
        # HUGEINT trap.
        "h12_group_mode": """
            SELECT user_id, event_type AS mode_value, n_occurrences
            FROM (
                SELECT user_id, event_type,
                       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY COUNT(*) DESC, event_type ASC) AS rn
                FROM events WHERE event_type IS NOT NULL
                GROUP BY user_id, event_type)
            WHERE rn = 1
        """,
        # r25: ANSI ranking functions share their definitions across engines;
        # percent_rank/cume_dist are one IEEE division of exact counts each.
        "r25_rank_functions": """
            SELECT event_id, event_type, value,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   PERCENT_RANK() OVER w AS prnk,
                   CUME_DIST() OVER w AS cume
            FROM events WHERE value IS NOT NULL
            WINDOW w AS (PARTITION BY event_type ORDER BY value ASC)
        """,
        # r26: decimal-exact revenue (r01 pattern); COUNT is BIGINT on both
        # engines; NULLs from unmatched sides pass through untouched.
        "r26_full_outer_join": """
            WITH cust AS (
                SELECT c_custkey, c_name, c_mktsegment FROM customer
                WHERE c_custkey % 3 = 0),
            agg AS (
                SELECT o_custkey, COUNT(*) AS n_orders,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                           AS total_price
                FROM orders GROUP BY o_custkey)
            SELECT COALESCE(c_custkey, o_custkey) AS custkey,
                   c_name, c_mktsegment, n_orders, total_price
            FROM cust FULL OUTER JOIN agg ON c_custkey = o_custkey
        """,
        # t20: the d03/d09/h03 lower+whitespace tokenization (proven-parity),
        # a total (count DESC, token ASC) top-K vocab cut, exact BIGINT
        # counts (DuckDB SUM(int) is HUGEINT -> CAST), one double division.
        "t20_oov_rate": r"""
            WITH tok AS (
                SELECT doc_id,
                       UNNEST(list_filter(
                           string_split_regex(LOWER(TRIM(COALESCE(text, ''))), '\s+'),
                           x -> x != '')) AS tok
                FROM documents),
            vocab AS (
                SELECT tok FROM (
                    SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
                    ORDER BY c DESC, tok ASC LIMIT 10)),
            per AS (
                SELECT t.doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_tokens,
                       CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_oov
                FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
                GROUP BY t.doc_id)
            SELECT doc_id, n_tokens, n_oov,
                   CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
            FROM per
        """,
        # t21: the t10-proven token-count expression, a ROWS-frame running
        # sum (doc_id unique -> RANGE==ROWS, but ROWS is explicit anyway),
        # CAST to BIGINT (window SUM(int) is HUGEINT in DuckDB), integer
        # DIV/% identical on nonnegative ints.
        "t21_sequence_packing": r"""
            WITH m AS (
                SELECT lang, doc_id,
                       CAST(len(list_filter(
                           string_split_regex(TRIM(COALESCE(text, '')), '\s+'),
                           x -> x != '')) AS BIGINT) AS n_tokens
                FROM documents),
            c AS (
                SELECT lang, doc_id, n_tokens,
                       CAST(SUM(n_tokens) OVER (
                           PARTITION BY lang ORDER BY doc_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS cum
                FROM m)
            SELECT lang, doc_id, n_tokens,
                   cum - n_tokens AS start_offset,
                   (cum - n_tokens) // 512 AS bin_id,
                   (cum - n_tokens) % 512 AS bin_offset
            FROM c
        """,
        # s09: generated from the operator's bit layout (see _s09_sig_sql)
        "s09_hamming_topk": _s09_hamming_sql(),
        # g24: generated from functions/cells.py MORTON_ROUNDS (morton_sql)
        "g24_morton_blocks": _g24_morton_sql(),
        # g25: the quadratic NN definition — (a-b)*(a-b) forms, never pow;
        # integer-valued doubles so every distance is exact; ties resolve on
        # the same (dist, point_id) total order the Spark window uses.
        "g25_nn_distance": _G25_NN_SQL,
        # h13: per-step MIN-chain CTEs; strict '>' so same-ts pairs never
        # advance; COUNT is BIGINT on both engines.
        "h13_funnel": """
            WITH v AS (
                SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY user_id),
            c AS (
                SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
            p AS (
                SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id)
            SELECT 1 AS step_index, 'view' AS step, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
            UNION ALL
            SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM c
            UNION ALL
            SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM p
        """,
        # r27: ordinals rebuilt from a 3-row index relation (h03 zip-unnest
        # pattern); DuckDB lists are 1-based, Spark posexplode 0-based.
        "r27_posexplode": r"""
            WITH m AS (
                SELECT doc_id,
                       list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\s+'),
                                   x -> x != '') AS tk
                FROM documents WHERE doc_id < 200)
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, tk[i] AS tok
            FROM m, (SELECT UNNEST([1, 2, 3]) AS i)
            WHERE i <= len(tk)
        """,
        # r28: same ANSI text as the Spark query
        "r28_exists_join": """
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
              AND NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = o.o_orderkey
                                AND l.l_returnflag = 'R')
        """,
        # r29: ASCII-safe battery; strpos == instr (1-based, 0 absent);
        # levenshtein parity proven by d10.
        "r29_string_functions": """
            SELECT c_custkey,
                   UPPER(c_name) AS upper_name,
                   SUBSTRING(c_name, 1, 8) AS prefix8,
                   LPAD(c_name, 22, '.') AS padded,
                   REGEXP_REPLACE(c_name, '0', '#', 'g') AS zero_masked,
                   REVERSE(c_name) AS reversed_name,
                   CAST(STRPOS(c_name, '1') AS INTEGER) AS pos_one,
                   REPEAT(SUBSTRING(c_name, 1, 2), 3) AS tripled,
                   CAST(LENGTH(c_name) AS INTEGER) AS name_len,
                   CAST(LEVENSHTEIN(c_name, REVERSE(c_name)) AS INTEGER)
                       AS dist_to_reverse
            FROM customer WHERE c_custkey <= 300
        """,
        # t22: d03-family tokenization; MIN-of-ids first appearance; BIGINT
        # casts (DuckDB SUM(int) is HUGEINT); one double division.
        "t22_token_novelty": r"""
            WITH per_tok AS (
                SELECT doc_id,
                       UNNEST(list_distinct(list_filter(
                           string_split_regex(LOWER(TRIM(COALESCE(text, ''))), '\s+'),
                           x -> x != ''))) AS tok
                FROM documents),
            first AS (SELECT tok, MIN(doc_id) AS first_doc FROM per_tok GROUP BY tok),
            per AS (
                SELECT p.doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_distinct,
                       CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_novel
                FROM per_tok p JOIN first f USING (tok)
                GROUP BY p.doc_id)
            SELECT doc_id, n_distinct, n_novel,
                   CAST(n_novel AS DOUBLE) / CAST(n_distinct AS DOUBLE) AS novelty
            FROM per
        """,
        # m06: m02's fixture-join pattern; Spark SUM(long) stays BIGINT but
        # DuckDB SUM(BIGINT) is HUGEINT -> CAST both sums.
        "m06_audio_energy": f"""
            WITH {_URLS_CTE}
            SELECT f.url,
                   CAST(COUNT(*) AS BIGINT) AS n_frames,
                   CAST(SUM(f.energy) AS BIGINT) AS total_energy,
                   CAST(SUM(f.n_zc) AS BIGINT) AS total_zc
            FROM read_parquet('{fixdir}/m06_audio_energy_sf01.parquet') f
            JOIN urls USING (url)
            GROUP BY f.url
        """,
        # g26: same dense-cell relation + packed cid arithmetic; components
        # via the d04 recursive-CTE pattern; isolated dense cells COALESCE to
        # themselves on both sides.
        "g26_grid_clusters": """
            WITH RECURSIVE cells AS (
                SELECT (event_id % 997) // 50 AS gx,
                       ((event_id * 31) % 983) // 50 AS gy,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
            dense AS (
                SELECT gx, gy, n,
                       (gx + 268435456) * 536870912 + (gy + 268435456) AS cid
                FROM cells WHERE n >= 25),
            edges0 AS (
                SELECT a.cid AS src, b.cid AS dst
                FROM dense a JOIN dense b
                  ON b.gx BETWEEN a.gx - 1 AND a.gx + 1
                 AND b.gy BETWEEN a.gy - 1 AND a.gy + 1
                 AND a.cid < b.cid),
            edges AS (
                SELECT src, dst FROM edges0
                UNION ALL SELECT dst, src FROM edges0),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.src, w.r FROM reach w JOIN edges e ON e.dst = w.id),
            comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
            SELECT d.gx, d.gy, d.n,
                   CAST(COALESCE(c.rep, d.cid) AS BIGINT) AS cluster_rep
            FROM dense d LEFT JOIN comp c ON c.id = d.cid
        """,
        # h14: integer epoch-week arithmetic on both sides (no week-trunc
        # conventions); COUNT over a distinct (user, week) relation.
        "h14_retention_cohorts": """
            WITH e AS (
                SELECT user_id,
                       date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
                FROM events),
            first AS (SELECT user_id, MIN(d) // 7 AS cohort_week FROM e GROUP BY user_id),
            weeks AS (SELECT DISTINCT user_id, d // 7 AS w FROM e)
            SELECT f.cohort_week, w.w - f.cohort_week AS week_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM weeks w JOIN first f USING (user_id)
            GROUP BY 1, 2
        """,
        # r30: generate_series densification; DuckDB's date series yields
        # DATEs for DATE bounds + day interval; zero-days COALESCE to 0.
        "r30_calendar_fill": """
            WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day FROM orders),
            bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM o),
            cal AS (
                SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
                           AS day
                FROM bounds),
            counts AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY day)
            SELECT cal.day, COALESCE(counts.n, 0) AS n_orders
            FROM cal LEFT JOIN counts USING (day)
        """,
        # r31: ANSI INTERSECT ALL / EXCEPT ALL bag semantics, multiplicities
        # made hash-visible by the per-key rollup.
        "r31_setops_all": """
            WITH c AS (SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer),
            s AS (SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier),
            ia AS (SELECT nationkey FROM c INTERSECT ALL SELECT nationkey FROM s),
            ea AS (SELECT nationkey FROM c EXCEPT ALL SELECT nationkey FROM s)
            SELECT 'intersect_all' AS op, nationkey,
                   CAST(COUNT(*) AS BIGINT) AS multiplicity
            FROM ia GROUP BY nationkey
            UNION ALL
            SELECT 'except_all', nationkey, CAST(COUNT(*) AS BIGINT)
            FROM ea GROUP BY nationkey
        """,
        # t23: t10-parity tokens, BIGINT casts, grand total via CTE scalar
        # (same single value the broadcast join carries), one division.
        "t23_corpus_composition": r"""
            WITH per AS (
                SELECT lang, source,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(len(list_filter(
                           string_split_regex(TRIM(COALESCE(text, '')), '\s+'),
                           x -> x != ''))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY lang, source),
            total AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t FROM per)
            SELECT lang, source, n_docs, n_tokens,
                   CAST(n_tokens AS DOUBLE) / CAST(t AS DOUBLE) AS token_share
            FROM per, total
        """,
        # s10: s05's pair-id convention with the shared zero-norm guard.
        "s10_range_search": f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS query_vec
                FROM embeddings WHERE vec_id % 100 = 7)
            SELECT q.query_id, e.vec_id
            FROM embeddings e, q
            WHERE e.vec_id != q.query_id
              AND ({_cos_sql("e.embedding", "q.query_vec")}) >= 0.2
        """,
        # h15: lag under the (ts, event_id) total order; BIGINT casts; one
        # division per matrix cell.
        "h15_transition_matrix": """
            WITH seq AS (
                SELECT user_id, event_type,
                       LAG(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts ASC, event_id ASC) AS prev
                FROM events),
            trans AS (
                SELECT prev AS prev_type, event_type AS next_type,
                       CAST(COUNT(*) AS BIGINT) AS n_transitions
                FROM seq WHERE prev IS NOT NULL
                GROUP BY 1, 2),
            rt AS (SELECT prev_type, CAST(SUM(n_transitions) AS BIGINT) AS row_total
                   FROM trans GROUP BY prev_type)
            SELECT t.prev_type, t.next_type, t.n_transitions,
                   CAST(t.n_transitions AS DOUBLE) / CAST(r.row_total AS DOUBLE)
                       AS prob
            FROM trans t JOIN rt r USING (prev_type)
        """,
        # r32: the same rank-1 selection under the DESC total order.
        "r32_latest_per_key": """
            SELECT user_id, ts, event_id, event_type, value
            FROM (
                SELECT user_id, ts, event_id, event_type, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events)
            WHERE rn = 1
        """,
        # g27: lag + (a-b)*(a-b) forms; hop_no from the same row_number - 1.
        "g27_trajectory_hops": """
            WITH e AS (
                SELECT user_id, ts, event_id,
                       CAST(event_id % 997 AS DOUBLE) AS x,
                       CAST((event_id * 31) % 983 AS DOUBLE) AS y
                FROM events),
            seq AS (
                SELECT user_id, event_id,
                       LAG(x) OVER w AS px, LAG(y) OVER w AS py, x, y,
                       ROW_NUMBER() OVER w - 1 AS hop_no
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
            SELECT user_id, CAST(hop_no AS INTEGER) AS hop_no,
                   event_id AS to_event,
                   (x - px) * (x - px) + (y - py) * (y - py) AS hop_dist2
            FROM seq WHERE px IS NOT NULL
        """,
        # r33: same ANSI text; COUNT/SUM BIGINT casts for the HUGEINT trap.
        "r33_null_semantics": """
            WITH e AS (
                SELECT event_id,
                       NULLIF(event_type, 'error') AS et,
                       NULLIF(event_id % 5, 0) AS k
                FROM events)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(et) AS BIGINT) AS n_et_nonnull,
                   CAST(COUNT(DISTINCT et) AS BIGINT) AS n_et_distinct,
                   CAST(SUM(CASE WHEN et IS DISTINCT FROM 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_not_view_incl_null,
                   CAST(SUM(CASE WHEN et != 'view' THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_not_view_3vl,
                   CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS sum_k_coalesced,
                   CAST(SUM(CASE WHEN k IS NULL AND et IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_both_null
            FROM e
        """,
        # h16: identical tie-grouped rank-sum identity; explicit parentheses
        # around (m*(m+1)) DIV 2 so associativity can't diverge; prefix sum
        # over DISTINCT counts only.
        "h16_gini": """
            WITH per_user AS (
                SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
                FROM events GROUP BY user_id),
            by_count AS (
                SELECT c, CAST(COUNT(*) AS BIGINT) AS m
                FROM per_user GROUP BY c),
            blocks AS (
                SELECT c, m,
                       CAST(COALESCE(SUM(m) OVER (
                           ORDER BY c ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                           AS BIGINT) AS s
                FROM by_count),
            agg AS (
                SELECT CAST(SUM(m) AS BIGINT) AS n,
                       CAST(SUM(c * m) AS BIGINT) AS t,
                       CAST(SUM(c * (m * s + (m * (m + 1)) // 2)) AS BIGINT) AS a
                FROM blocks)
            SELECT n AS n_users, t AS total_events,
                   CAST(2 * a - (n + 1) * t AS DOUBLE)
                       / CAST(n * t AS DOUBLE) AS gini
            FROM agg
        """,
        # t24: the t01 dedup key; NULL text excluded on both sides.
        "t24_dup_rate_by_source": r"""
            WITH per AS (
                SELECT source,
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(COUNT(DISTINCT md5(lower(TRIM(
                           regexp_replace(text, '\s+', ' ', 'g'))))) AS BIGINT)
                           AS n_unique
                FROM documents WHERE text IS NOT NULL
                GROUP BY source)
            SELECT source, n_docs, n_unique,
                   CAST(n_docs - n_unique AS DOUBLE) / CAST(n_docs AS DOUBLE)
                       AS dup_rate
            FROM per
        """,
        # g28: two exact-integer rollups over the shared g25 NN relation.
        "g28_reverse_nn_degree": f"""
            WITH nn AS ({_G25_NN_SQL}),
            deg AS (
                SELECT nn_id, CAST(COUNT(*) AS BIGINT) AS nn_degree
                FROM nn GROUP BY nn_id)
            SELECT nn_degree, CAST(COUNT(*) AS BIGINT) AS n_points
            FROM deg GROUP BY nn_degree
        """,
        # t25: h03's zip-unnest 3-grams per doc; >= n-token filter both
        # sides; BIGINT casts; one division.
        "t25_dup_ngram_stats": r"""
            WITH m AS (
                SELECT doc_id,
                       list_filter(string_split_regex(LOWER(TRIM(COALESCE(text, ''))),
                                                      '\s+'),
                                   x -> x != '') AS t
                FROM documents),
            g AS (
                SELECT doc_id,
                       unnest(t[1:len(t)-2]) || ' ' || unnest(t[2:len(t)-1])
                           || ' ' || unnest(t[3:len(t)]) AS gram
                FROM m WHERE len(t) >= 3),
            pg AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
                   FROM g GROUP BY doc_id, gram),
            per AS (
                SELECT doc_id,
                       CAST(SUM(c) AS BIGINT) AS n_grams,
                       CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                           AS n_dup_positions
                FROM pg GROUP BY doc_id)
            SELECT doc_id, n_grams, n_dup_positions,
                   CAST(n_dup_positions AS DOUBLE) / CAST(n_grams AS DOUBLE)
                       AS dup_frac
            FROM per
        """,
        # r34: the melt as explicit UNION ALL of the three band columns.
        "r34_unpivot": """
            WITH wide AS (
                SELECT event_type,
                       CAST(SUM(CASE WHEN value < 10 THEN 1 ELSE 0 END) AS BIGINT)
                           AS low,
                       CAST(SUM(CASE WHEN value >= 10 AND value < 100 THEN 1
                                ELSE 0 END) AS BIGINT) AS mid,
                       CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT)
                           AS high
                FROM events WHERE value IS NOT NULL
                GROUP BY event_type)
            SELECT event_type, 'low' AS band, low AS n FROM wide
            UNION ALL SELECT event_type, 'mid', mid FROM wide
            UNION ALL SELECT event_type, 'high', high FROM wide
        """,
        # r35: identical frames under the same total order; moving sum over
        # ints (HUGEINT cast); first/last/nth return untouched elements.
        "r35_window_frames": """
            SELECT event_id, event_type,
                   FIRST_VALUE(event_id) OVER (
                       PARTITION BY event_type ORDER BY value ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS first_id,
                   LAST_VALUE(event_id) OVER (
                       PARTITION BY event_type ORDER BY value ASC, event_id ASC
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS last_id,
                   NTH_VALUE(event_id, 3) OVER (
                       PARTITION BY event_type ORDER BY value ASC, event_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                       AS third_id,
                   CAST(SUM(event_id % 100) OVER (
                       PARTITION BY event_type ORDER BY value ASC, event_id ASC
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS moving_sum3
            FROM events WHERE value IS NOT NULL
        """,
        # h17: consecutive-day equi-join + h05's integer sufficient stats.
        "h17_lag_correlation": """
            WITH daily AS (
                SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
                       CAST(COUNT(*) AS BIGINT) AS c
                FROM events GROUP BY 1),
            pairs AS (
                SELECT a.c AS x, b.c AS y
                FROM daily a JOIN daily b ON b.d - 1 = a.d),
            s AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
                       CAST(SUM(x * x) AS BIGINT) AS sxx,
                       CAST(SUM(y * y) AS BIGINT) AS syy,
                       CAST(SUM(x * y) AS BIGINT) AS sxy
                FROM pairs)
            SELECT n AS n_pairs, sx AS sum_today, sy AS sum_next,
                   CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                        THEN NULL
                        ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                                * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                   END AS lag1_corr
            FROM s
        """,
        # s11: the s09 signature relation + the s01 exact-cosine ranking,
        # composed; integer matches, one division of CAST doubles.
        "s11_hamming_recall": f"""
            WITH sig AS (
                SELECT vec_id, embedding,
                       {_s09_sig_sql(0, 32)} AS sig_lo,
                       {_s09_sig_sql(32, 64)} AS sig_hi
                FROM embeddings),
            q AS (SELECT vec_id AS query_id, embedding AS query_vec,
                         sig_lo AS q_lo, sig_hi AS q_hi
                  FROM sig WHERE vec_id < 5),
            ham AS (
                SELECT query_id, vec_id FROM (
                    SELECT q.query_id, s.vec_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.query_id
                               ORDER BY bit_count(xor(s.sig_lo, q.q_lo))
                                        + bit_count(xor(s.sig_hi, q.q_hi)) ASC,
                                        s.vec_id ASC) AS r
                    FROM sig s, q) WHERE r <= 5),
            exact AS (
                SELECT query_id, vec_id FROM (
                    SELECT q.query_id, e.vec_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.query_id
                               ORDER BY {_cos_sql("e.embedding", "q.query_vec")}
                                        DESC NULLS LAST, e.vec_id ASC) AS r
                    FROM embeddings e, q) WHERE r <= 5),
            matches AS (
                SELECT h.query_id, CAST(COUNT(*) AS BIGINT) AS n_matches
                FROM ham h JOIN exact x
                  ON x.query_id = h.query_id AND x.vec_id = h.vec_id
                GROUP BY h.query_id)
            SELECT q.query_id,
                   COALESCE(m.n_matches, 0) AS n_matches,
                   CAST(COALESCE(m.n_matches, 0) AS DOUBLE) / CAST(5 AS DOUBLE)
                       AS recall_at_5
            FROM q LEFT JOIN matches m USING (query_id)
        """,
        # m07: fixture columns passed through untouched (pure integers).
        "m07_image_stats": f"""
            WITH {_URLS_CTE}
            SELECT f.url, f.n_pixels, f.pixel_sum, f.min_pixel, f.max_pixel,
                   f.n_dark, f.n_bright
            FROM read_parquet('{fixdir}/m07_image_stats_sf01.parquet') f
            JOIN urls USING (url)
        """,
        # g29: same occupancy relation; MAX flags; one division.
        "g29_grid_jaccard": """
            WITH cells AS (
                SELECT (event_id % 997) // 50 AS gx,
                       ((event_id * 31) % 983) // 50 AS gy,
                       CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
                       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_b
                FROM events WHERE event_type IN ('click', 'purchase')),
            occ AS (
                SELECT gx, gy, MAX(is_a) AS a, MAX(is_b) AS b
                FROM cells GROUP BY gx, gy)
            SELECT CAST(SUM(a) AS BIGINT) AS n_a,
                   CAST(SUM(b) AS BIGINT) AS n_b,
                   CAST(SUM(a * b) AS BIGINT) AS n_both,
                   CAST(COUNT(*) AS BIGINT) AS n_union,
                   CAST(SUM(a * b) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS jaccard
            FROM occ
        """,
        # g30: sign classes via CASE (== Spark signum of the integer diff).
        "g30_hop_directions": """
            WITH e AS (
                SELECT user_id, ts, event_id,
                       event_id % 997 AS x, (event_id * 31) % 983 AS y
                FROM events),
            seq AS (
                SELECT user_id, x, y,
                       LAG(x) OVER w AS px, LAG(y) OVER w AS py
                FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
            SELECT CAST(CASE WHEN x > px THEN 1 WHEN x < px THEN -1 ELSE 0 END
                        AS INTEGER) AS dx_sign,
                   CAST(CASE WHEN y > py THEN 1 WHEN y < py THEN -1 ELSE 0 END
                        AS INTEGER) AS dy_sign,
                   CAST(COUNT(*) AS BIGINT) AS n_hops
            FROM seq WHERE px IS NOT NULL
            GROUP BY 1, 2
        """,
        # h18: integer dow arithmetic (no engine dayofweek), decimal-exact
        # value sum cast once, one division.
        "h18_weekday_profile": """
            SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7
                       AS dow,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE) AS mean_value
            FROM events GROUP BY 1
        """,
        # r36: COUNT(DISTINCT CASE ...) — NULLs fall out of DISTINCT counts
        # identically on both engines.
        "r36_filtered_distinct": """
            SELECT event_type,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(COUNT(DISTINCT CASE WHEN value >= 100 THEN user_id END)
                        AS BIGINT) AS n_heavy_users,
                   CAST(COUNT(DISTINCT CASE WHEN value IS NULL THEN user_id END)
                        AS BIGINT) AS n_nullval_users
            FROM events GROUP BY event_type
        """,
        # g31: lag under the (ts, event_id) total order; zone arithmetic all
        # integer.
        "g31_zone_transitions": """
            WITH e AS (
                SELECT user_id, ts, event_id,
                       ((event_id % 997) // 200) * 5
                           + (((event_id * 31) % 983) // 200) AS zone
                FROM events),
            seq AS (
                SELECT zone,
                       LAG(zone) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC, event_id ASC) AS prev
                FROM e)
            SELECT prev AS from_zone, zone AS to_zone,
                   CAST(COUNT(*) AS BIGINT) AS n_moves
            FROM seq WHERE prev IS NOT NULL
            GROUP BY 1, 2
        """,
        # s12: the s01 exact ranking (k=6, self dropped, re-ranked to 5) + a
        # label join; integer matches, one division.
        "s12_knn_label_purity": f"""
            WITH q AS (
                SELECT vec_id AS query_id, embedding AS query_vec,
                       label AS query_label
                FROM embeddings WHERE vec_id % 10 = 3),
            ranked AS (
                SELECT q.query_id, e.vec_id, e.label,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_cos_sql("e.embedding", "q.query_vec")}
                                    DESC NULLS LAST, e.vec_id ASC) AS r
                FROM embeddings e, q),
            top5 AS (
                SELECT query_id, vec_id, label,
                       ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY r ASC)
                           AS rr
                FROM ranked
                WHERE r <= 6 AND vec_id != query_id),
            agg AS (
                SELECT t.query_id,
                       CAST(COUNT(*) AS BIGINT) AS n_neighbors,
                       CAST(SUM(CASE WHEN t.label = q.query_label THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_same_label
                FROM top5 t JOIN q USING (query_id)
                WHERE t.rr <= 5
                GROUP BY t.query_id)
            SELECT query_id, n_neighbors, n_same_label,
                   CAST(n_same_label AS DOUBLE) / CAST(n_neighbors AS DOUBLE)
                       AS label_purity
            FROM agg
        """,
        # d13: the d04 recursive-CTE components, rolled into the size
        # histogram; all BIGINT.
        "d13_cluster_size_histogram": f"""
            WITH RECURSIVE pairs AS ({_D03_SQL}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.src, w.r FROM reach w JOIN edges e ON e.dst = w.id),
            comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id),
            sizes AS (SELECT rep, CAST(COUNT(*) AS BIGINT) AS cluster_size
                      FROM comp GROUP BY rep)
            SELECT cluster_size,
                   CAST(COUNT(*) AS BIGINT) AS n_clusters,
                   CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
            FROM sizes GROUP BY cluster_size
        """,
        # h19: integer midpoint from the same MIN/MAX; zero-first guard NULL.
        "h19_trend_report": """
            WITH e AS (
                SELECT event_type,
                       date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
                FROM events),
            b AS (SELECT (MIN(d) + MAX(d) + 1) // 2 AS mid FROM e),
            per AS (
                SELECT event_type,
                       CAST(SUM(CASE WHEN d < mid THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_first,
                       CAST(SUM(CASE WHEN d >= mid THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_second
                FROM e, b GROUP BY event_type)
            SELECT event_type, n_first, n_second,
                   CASE WHEN n_first > 0
                        THEN CAST(n_second AS DOUBLE) / CAST(n_first AS DOUBLE)
                   END AS growth
            FROM per
        """,
        # m08: m06's fixture-join pattern over per-keyframe rows.
        "m08_video_frame_stats": f"""
            WITH {_URLS_CTE}
            SELECT f.url,
                   CAST(COUNT(*) AS BIGINT) AS n_frames,
                   CAST(SUM(f.pixel_sum) AS BIGINT) AS total_pixel_sum,
                   MIN(f.min_pixel) AS min_pixel,
                   MAX(f.max_pixel) AS max_pixel
            FROM read_parquet('{fixdir}/m08_video_frame_stats_sf01.parquet') f
            JOIN urls USING (url)
            GROUP BY f.url
        """,
        # h20: integer cumulative-weight crossing-row selection — a total
        # (value, event_id) order, int64 comparisons only, so the picked row
        # is engine-independent. Explicit ROWS frame on both sides.
        "h20_weighted_median": """
            WITH e AS (
                SELECT event_type, value, event_id,
                       1 + event_id % 5 AS w
                FROM events WHERE value IS NOT NULL),
            r AS (
                SELECT event_type, value, w,
                       CAST(SUM(w) OVER (
                           PARTITION BY event_type
                           ORDER BY value ASC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS BIGINT) AS cum,
                       CAST(SUM(w) OVER (PARTITION BY event_type) AS BIGINT)
                           AS tot,
                       CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                           AS n
                FROM e)
            SELECT event_type, value AS weighted_median, tot AS total_weight,
                   n AS n_rows
            FROM r WHERE 2 * cum >= tot AND 2 * (cum - w) < tot
        """,
        # g32: the n^2-scaled Moran's I sufficient statistics — every
        # aggregate exact int64 (DuckDB SUM(int) -> HUGEINT, CAST back), the
        # final value the same fixed four-node double tree as the operator.
        # The neighbor theta-join is oracle-only (the definition); the Spark
        # side uses the exploded-offset EQUI-join.
        "g32_morans_i": """
            WITH c AS (
                SELECT (event_id % 997) // 50 AS gx,
                       ((event_id * 31) % 983) // 50 AS gy,
                       CAST(COUNT(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
            base AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
                       CAST(SUM(n) AS BIGINT) AS s,
                       CAST(SUM(n * n) AS BIGINT) AS ss
                FROM c),
            prs AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS w_pairs,
                       CAST(SUM(a.n * b.n) AS BIGINT) AS p,
                       CAST(SUM(a.n + b.n) AS BIGINT) AS t
                FROM c a JOIN c b
                  ON b.gx BETWEEN a.gx - 1 AND a.gx + 1
                 AND b.gy BETWEEN a.gy - 1 AND a.gy + 1
                 AND NOT (a.gx = b.gx AND a.gy = b.gy))
            SELECT n_cells, w_pairs, s AS sum_counts,
                   n_cells * n_cells * p - n_cells * s * t + w_pairs * s * s
                       AS num_scaled,
                   n_cells * n_cells * ss - n_cells * s * s AS den_scaled,
                   CASE WHEN w_pairs = 0
                          OR n_cells * n_cells * ss - n_cells * s * s = 0
                        THEN NULL
                        ELSE (CAST(n_cells AS DOUBLE) / CAST(w_pairs AS DOUBLE))
                             * (CAST(n_cells * n_cells * p - n_cells * s * t
                                     + w_pairs * s * s AS DOUBLE)
                                / CAST(n_cells * n_cells * ss - n_cells * s * s
                                       AS DOUBLE))
                   END AS morans_i
            FROM base, prs
        """,
        # t26: the d03/t20 proven-parity tokenization; strata counts exact
        # int64; share = ONE division of two exact integers per row.
        "t26_word_length_profile": r"""
            WITH tok AS (
                SELECT lang,
                       UNNEST(list_filter(
                           string_split_regex(LOWER(TRIM(COALESCE(text, ''))),
                                              '\s+'),
                           x -> x != '')) AS tok
                FROM documents),
            per AS (
                SELECT lang, CAST(LENGTH(tok) AS INTEGER) AS word_len,
                       CAST(COUNT(*) AS BIGINT) AS n_tokens,
                       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
                FROM tok GROUP BY 1, 2)
            SELECT lang, word_len, n_tokens, n_distinct_tokens,
                   CAST(n_tokens AS DOUBLE)
                       / CAST(SUM(n_tokens) OVER (PARTITION BY lang) AS DOUBLE)
                       AS share
            FROM per
        """,
        # s13: generated from the s09 bit layout (see _s13_hist_sql).
        "s13_hamming_histogram": _s13_hist_sql(),
        # r37: DuckDB list HOF twins of the Spark array HOFs — list_sort ==
        # sort_array (ASC, ASCII binary order), list_distinct+sort is
        # order-insensitive, [1:3] == slice(_,1,3), [-1] == element_at(-1)
        # (both NULL on empty), list_sum+COALESCE == aggregate-with-0-init.
        "r37_array_functions": r"""
            WITH d AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(LOWER(TRIM(COALESCE(text, ''))),
                                              '\s+'),
                           x -> x != '') AS tk
                FROM documents)
            SELECT doc_id,
                   CAST(len(tk) AS INTEGER) AS n_tokens,
                   CAST(len(list_distinct(tk)) AS INTEGER) AS n_distinct,
                   array_to_string(list_sort(list_distinct(tk))[1:3], ',')
                       AS first3_sorted,
                   list_sort(tk)[-1] AS max_token,
                   CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
                        AS BIGINT) AS total_chars,
                   CAST(len(list_filter(tk, x -> length(x) >= 5)) AS INTEGER)
                       AS n_long
            FROM d
        """,
        # --- geo pipeline: committed-fixture oracles (provenance spelled
        #     out per query docstring: g01-g03 pure-python-kernel
        #     generated, g09 REFERENCE DATA, g11 snapshot) ---
        "g01_boolean_pipeline": f"""
            WITH {cases_cte}
            SELECT f.case_id, f.op, f.n_polys
            FROM read_parquet('{fixdir}/g01_npolys_sf01.parquet') f
            JOIN cases USING (case_id)
        """,
        "g02_tile_assignment": f"""
            WITH {cases_cte}
            SELECT f.tile_id, COUNT(*) AS n_rows
            FROM read_parquet('{fixdir}/g02_tiles_sf01.parquet') f
            JOIN cases USING (case_id)
            GROUP BY f.tile_id
        """,
        "g03_tile_clip": f"""
            WITH {cases_cte}
            SELECT f.tile_id, f.url, f.op, f.n_polys
            FROM read_parquet('{fixdir}/g03_clip_sf01.parquet') f
            JOIN cases USING (case_id)
        """,
        # g09: REFERENCE-DATA oracle — expected polygon counts and
        # exact_match=true parsed straight from the reference's fixture
        # files; our kernel never runs on this side.
        "g09_fixture_suite": f"""
            SELECT case_key, op, n_polys, TRUE AS exact_match
            FROM read_parquet('{fixdir}/g09_expected.parquet')
        """,
        "g11_dissolve": f"""
            SELECT template_kind, n_polys, status
            FROM read_parquet('{fixdir}/g11_dissolve_sf001.parquet')
        """,
        # g15: the parent chain re-expressed as SQL bit arithmetic over the
        # g02 tile fixture (DuckDB's >> is arithmetic, matching the floor
        # semantics of parent_cell on negative indices)
        "g15_tile_pyramid": f"""
            WITH {cases_cte},
            t AS (
                SELECT f.tile_id,
                       ((f.tile_id >> 29) & 536870911) - 268435456 AS ix,
                       (f.tile_id & 536870911) - 268435456 AS iy
                FROM read_parquet('{fixdir}/g02_tiles_sf01.parquet') f
                JOIN cases USING (case_id)
                WHERE f.tile_id IS NOT NULL
            ),
            lv AS (SELECT CAST(level AS INTEGER) AS level FROM range(0, 5) r(level))
            SELECT lv.level,
                   (CAST(lv.level AS BIGINT) << 58)
                   | (((t.ix >> (4 - lv.level)) + 268435456) << 29)
                   | ((t.iy >> (4 - lv.level)) + 268435456) AS tile_id,
                   COUNT(*) AS n_rows
            FROM t CROSS JOIN lv
            GROUP BY 1, 2
        """,
        # g19: fixture areas from the python-kernel + area-fold twin,
        # restricted to live cases; the single iou division recomputed in
        # SQL (identical IEEE double division both engines)
        "g19_iou": f"""
            WITH cases AS (
                SELECT DISTINCT doc_id // 2 AS case_id FROM documents
            )
            SELECT f.case_id, f.area_intersection, f.area_union,
                   CASE WHEN f.area_union != 0.0
                        THEN f.area_intersection / f.area_union
                        ELSE 0.0 END AS iou
            FROM read_parquet('{fixdir}/g19_iou_sf01.parquet') f
            JOIN cases USING (case_id)
        """,
        # g20: fixture areas from the python clip + area-fold twins; the
        # weight division and apportionment multiply recomputed in SQL
        # with the live n_chars
        "g20_tile_weights": f"""
            WITH vals AS (
                SELECT doc_id // 2 AS case_id,
                       CAST(n_chars AS DOUBLE) AS v
                FROM documents WHERE doc_id % 2 = 0
            )
            SELECT f.case_id, f.tile_id, f.clip_area, f.geom_area,
                   CASE WHEN f.geom_area != 0.0
                        THEN f.clip_area / f.geom_area
                        ELSE 0.0 END AS weight,
                   (CASE WHEN f.geom_area != 0.0
                         THEN f.clip_area / f.geom_area
                         ELSE 0.0 END) * v.v AS apportioned_chars
            FROM read_parquet('{fixdir}/g20_tile_weights_sf01.parquet') f
            JOIN vals v USING (case_id)
        """,
        # g21: shape-twin fixture (region area / centroid / perimeter),
        # restricted to the live scale factor via the docroles join
        "g21_shape_stats": f"""
            WITH docroles AS (
                SELECT doc_id // 2 AS case_id,
                       CASE WHEN doc_id % 2 = 0 THEN 'subject' ELSE 'clipping' END AS role
                FROM documents
            )
            SELECT f.case_id, f.role, f.region_area, f.centroid_x,
                   f.centroid_y, f.perimeter
            FROM read_parquet('{fixdir}/g21_shape_sf01.parquet') f
            JOIN docroles USING (case_id, role)
        """,
        # g22: the g21 twin fixture with the identical multiply chain +
        # division recomputed in SQL (g19 pattern). Literals MUST be cast
        # to DOUBLE: bare 3.141592653589793 parses as DECIMAL(16,15) in
        # DuckDB and the decimal-folded 4*pi is 1 ULP off the double
        # product, which shifted 4557/5000 fixture rows by an ULP.
        "g22_compactness": f"""
            WITH docroles AS (
                SELECT doc_id // 2 AS case_id,
                       CASE WHEN doc_id % 2 = 0 THEN 'subject' ELSE 'clipping' END AS role
                FROM documents
            )
            SELECT f.case_id, f.role,
                   CASE WHEN f.perimeter > 0.0
                        THEN ((CAST(4.0 AS DOUBLE) * CAST(3.141592653589793 AS DOUBLE))
                              * f.region_area)
                             / (f.perimeter * f.perimeter)
                        ELSE NULL END AS compactness
            FROM read_parquet('{fixdir}/g21_shape_sf01.parquet') f
            JOIN docroles USING (case_id, role)
        """,
        # r24: DuckDB recomputes the interval join as the plain theta
        # form — the semantics the bucketed equi-join must reproduce
        # exactly (half-open window, integer-micros timestamp arithmetic)
        "r24_interval_join": """
            SELECT i.event_id AS incident_id,
                   p.event_id AS event_id,
                   p.user_id AS user_id
            FROM events p
            JOIN (SELECT event_id, user_id, ts AS t_start,
                         ts + INTERVAL 30 MINUTE AS t_end
                  FROM events WHERE event_type = 'error') i
              ON p.user_id = i.user_id
             AND p.ts >= i.t_start AND p.ts < i.t_end
        """,
        # h09: identical two-central-ranks selection; SUM over <= 2
        # doubles (commutative) and one division — bit-exact both engines
        "h09_group_median": """
            WITH ranked AS (
                SELECT event_type, CAST(value AS DOUBLE) AS v,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY value, event_id) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM events
                WHERE value IS NOT NULL
            )
            SELECT event_type,
                   SUM(v) / CAST(COUNT(*) AS DOUBLE) AS median,
                   MAX(n) AS n_rows
            FROM ranked
            WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
            GROUP BY event_type
        """,
        # g23: the same 3x3 convolution as a 9-row cross join; integer
        # counts only (DuckDB SUM(int) is HUGEINT -> cast to BIGINT)
        "g23_focal_heatmap": """
            WITH cells AS (
                SELECT (event_id % 997) // 50 AS gx,
                       ((event_id * 31) % 983) // 50 AS gy,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2
            ), offs AS (
                SELECT a.dx, b.dy
                FROM (VALUES (-1), (0), (1)) a(dx)
                CROSS JOIN (VALUES (-1), (0), (1)) b(dy)
            )
            SELECT c.gx + o.dx AS gx, c.gy + o.dy AS gy,
                   CAST(SUM(c.n) AS BIGINT) AS focal_sum
            FROM cells c CROSS JOIN offs o
            GROUP BY 1, 2
        """,
        "s06_ivf_kmeans": f"""
            SELECT query_id, vec_id, sim_rank
            FROM read_parquet('{fixdir}/s06_ivf_kmeans_sf001.parquet')
        """,
        # --- multimodal: operator-pandas-generated fixtures joined against
        #     the documents-derived url set; aggregations recomputed in SQL
        #     over the per-frame fixture rows ---
        "m01_image_features": f"""
            WITH {urls_cte}
            SELECT f.url, f.width, f.height, f.phash
            FROM read_parquet('{fixdir}/m01_image_features_sf01.parquet') f
            JOIN urls USING (url)
        """,
        "m02_audio_frames": f"""
            WITH {urls_cte}
            SELECT f.url, COUNT(*) AS n_frames, MAX(f.peak) AS max_peak
            FROM read_parquet('{fixdir}/m02_audio_frames_sf01.parquet') f
            JOIN urls USING (url)
            GROUP BY f.url
        """,
        "m03_video_frames": f"""
            WITH {urls_cte}
            SELECT f.url, COUNT(*) AS n_frames, MAX(f.ts_ms) AS last_ts_ms
            FROM read_parquet('{fixdir}/m03_video_frames_sf01.parquet') f
            JOIN urls USING (url)
            GROUP BY f.url
        """,
        "m04_image_resize": f"""
            WITH {urls_cte}
            SELECT f.url, f.out_width, f.out_height, f.thumb_md5
            FROM read_parquet('{fixdir}/m04_thumbs_sf01.parquet') f
            JOIN urls USING (url)
        """,
        # m05: pixel hashes from the operator-pandas fixture (image-kind
        # group urls only); copy counts and representatives recomputed
        # LIVE from the documents view (url = 'img://grp/<doc_id % 200>')
        # so the dedup aggregation is independently verified
        "m05_image_dedup": f"""
            WITH grp AS (
                SELECT 'img://grp/' || CAST(doc_id % 200 AS VARCHAR) AS url,
                       CAST(COUNT(*) AS BIGINT) AS n_copies
                FROM documents GROUP BY 1
            )
            SELECT f.pixel_md5, g.n_copies, g.url AS rep_url,
                   f.width, f.height
            FROM read_parquet('{fixdir}/m05_pixel_hash_grp.parquet') f
            JOIN grp g USING (url)
        """,
        # g16: generated-fixture oracle (CPython twin of the JVM shoelace
        # folds, identical FP operation order) restricted to the current
        # corpus's (case, role) pairs
        "g16_geometry_measures": f"""
            WITH docroles AS (
                SELECT doc_id // 2 AS case_id,
                       CASE WHEN doc_id % 2 = 0 THEN 'subject' ELSE 'clipping' END AS role
                FROM documents
            )
            SELECT f.case_id, f.role, f.n_polys, f.n_rings, f.n_vertices,
                   f.area, f.xmin, f.ymin, f.xmax, f.ymax
            FROM read_parquet('{fixdir}/g16_measures_sf01.parquet') f
            JOIN docroles USING (case_id, role)
        """,
        # g17: independent-twin fixture (recursive scalar DP vs the
        # operator's iterative NumPy DP), joined to the live corpus
        "g17_simplify": f"""
            WITH docroles AS (
                SELECT doc_id // 2 AS case_id,
                       CASE WHEN doc_id % 2 = 0 THEN 'subject' ELSE 'clipping' END AS role
                FROM documents
            )
            SELECT f.case_id, f.role, f.n_vertices_in, f.n_vertices_out,
                   f.simplified_md5
            FROM read_parquet('{fixdir}/g17_simplify_sf01.parquet') f
            JOIN docroles USING (case_id, role)
        """,
        # g18: independent-twin fixture (Jarvis gift-wrapping vs the
        # operator's monotone chain), joined to the live corpus
        "g18_convex_hull": f"""
            WITH docroles AS (
                SELECT doc_id // 2 AS case_id,
                       CASE WHEN doc_id % 2 = 0 THEN 'subject' ELSE 'clipping' END AS role
                FROM documents
            )
            SELECT f.case_id, f.role, f.n_points, f.n_hull_vertices,
                   f.hull_md5
            FROM read_parquet('{fixdir}/g18_hull_sf01.parquet') f
            JOIN docroles USING (case_id, role)
        """,
        # t13: same tokenize -> tf -> df -> rational-idf score -> windowed
        # top-3 chain; the score expression tree is written identically on
        # both sides (CAST(tf) * (CAST(N) / (1.0 + CAST(df)))) so the
        # doubles are bit-equal — no ln anywhere (libm ulp divergence)
        "t13_tfidf_topterms": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                                          x -> x != '')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
            ), withdf AS (
                SELECT doc_id, term, tf,
                       COUNT(*) OVER (PARTITION BY term) AS df
                FROM tf
            ), scored AS (
                SELECT doc_id, term, tf, df,
                       CAST(tf AS DOUBLE)
                         * (CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                            / (1.0 + CAST(df AS DOUBLE))) AS score
                FROM withdf
            )
            SELECT doc_id, term, tf, df, score, rank FROM (
                SELECT scored.*,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY score DESC, term ASC) AS rank
                FROM scored
            ) WHERE rank <= 3
        """,
        # t14: same window rule — starts are multiples of stride 24 below
        # n_tokens, keeping start 0 and any start < n - overlap; DuckDB
        # list slicing clamps like Spark's slice. Strings only, so the
        # only parity concerns are the shared \\s+ tokenizer semantics.
        # t15: identical 4-gram definition on both sides (lowercase ->
        # whitespace split -> non-empty filter -> DISTINCT grams with the
        # d03 short-doc clamp); counts only, so no FP concerns. COUNT is
        # BIGINT in DuckDB (the SUM/HUGEINT trap does not apply).
        # d08: the s03 pair relation (literal hyperplanes) -> recursive-
        # CTE components (d04's pattern) -> representative per vector
        "d08_semantic_dedup": f"""
            WITH RECURSIVE pairs AS ({_lsh_neardup_sql()}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.src, w.r FROM reach w JOIN edges e ON e.dst = w.id
            ),
            comp AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id)
            SELECT emb.vec_id,
                   CAST(COALESCE(c.rep, emb.vec_id) AS BIGINT) AS cluster_rep,
                   COALESCE(c.rep, emb.vec_id) = emb.vec_id AS keep
            FROM embeddings emb LEFT JOIN comp c ON c.id = emb.vec_id
        """,
        # h03: identical zip-unnest bigrams + rational score tree
        # ((pair*N)/(c_a*c_b), no log -> bit-equal doubles); SUM needs the
        # BIGINT cast (DuckDB HUGEINT trap); total-order tiebreak (w1,w2)
        "h03_bigram_assoc": """
            WITH toks AS (
                SELECT list_filter(string_split_regex(lower(TRIM(text)), '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), bg AS (
                SELECT unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
                FROM toks WHERE len(t) >= 2
            ), bc AS (
                SELECT w1, w2, COUNT(*) AS pair_count FROM bg GROUP BY 1, 2
            ), uc AS (
                SELECT w, COUNT(*) AS c FROM (SELECT unnest(t) AS w FROM toks)
                GROUP BY 1
            ), n AS (
                SELECT CAST(SUM(pair_count) AS BIGINT) AS nb FROM bc
            )
            SELECT bc.w1, bc.w2, bc.pair_count,
                   (CAST(bc.pair_count AS DOUBLE) * CAST(n.nb AS DOUBLE))
                     / (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) AS score
            FROM bc, n
            JOIN uc a ON a.w = bc.w1
            JOIN uc b ON b.w = bc.w2
            WHERE bc.pair_count >= 5
            ORDER BY score DESC, bc.w1, bc.w2
            LIMIT 20
        """,
        # t17: identical page synthesis (concat_ws skips the NULL arg in
        # both engines), dedup replayed as min-ordinality + ordered agg
        "t17_line_dedup": """
            WITH pages AS (
                SELECT doc_id,
                       concat_ws(chr(10),
                                 'nav home about contact',
                                 text,
                                 '',
                                 '',
                                 CASE WHEN doc_id % 3 = 0 THEN text END,
                                 'nav home about contact') AS page
                FROM documents
            ), ls AS (
                SELECT doc_id, page, string_split(page, chr(10)) AS arr
                FROM pages
            ), ex AS (
                SELECT doc_id, unnest(arr) AS l,
                       unnest(range(1, len(arr) + 1)) AS i
                FROM ls
            ), firsts AS (
                SELECT doc_id, l, MIN(i) AS fi FROM ex GROUP BY 1, 2
            )
            SELECT f.doc_id,
                   string_agg(f.l, chr(10) ORDER BY f.fi) AS clean_text,
                   CAST(ANY_VALUE(len(ls.arr)) AS INTEGER) AS n_lines_in,
                   CAST(COUNT(*) AS INTEGER) AS n_lines_out
            FROM firsts f JOIN ls ON ls.doc_id = f.doc_id
            GROUP BY f.doc_id
        """,
        # h04: identical tokenize -> (lang, token) count -> per-lang
        # rollup; BIGINT casts on the integer sums, one double division
        "h04_vocab_stats": """
            WITH toks AS (
                SELECT lang,
                       unnest(list_filter(string_split_regex(lower(TRIM(text)), '\\s+'),
                                          x -> x != '')) AS w
                FROM documents
            ), freq AS (
                SELECT lang, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
            )
            SELECT lang,
                   CAST(SUM(c) AS BIGINT) AS n_tokens,
                   COUNT(*) AS n_types,
                   CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hapax,
                   CAST(COUNT(*) AS DOUBLE) / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
                       AS type_token_ratio
            FROM freq GROUP BY lang
        """,
        # d09: identical 8-token windows via list slicing (t[st:st+7] is
        # inclusive), same md5 window keys, coverage via range unnest;
        # counts cast to INT (DuckDB COUNT is BIGINT/HUGEINT), the one
        # double division is bit-equal in both engines
        "d09_substring_dup": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(TRIM(text)), '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), base AS (
                SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens, t FROM toks
            ), w AS (
                SELECT doc_id, st,
                       md5(array_to_string(t[st:st+7], ' ')) AS wkey
                FROM (SELECT doc_id, t,
                             unnest(range(1, len(t) - 8 + 2)) AS st
                      FROM base WHERE n_tokens >= 8)
            ), dup AS (
                SELECT wkey FROM w GROUP BY 1 HAVING COUNT(*) > 1
            ), dw AS (
                SELECT w.doc_id, w.st FROM w JOIN dup USING (wkey)
            ), pos AS (
                SELECT doc_id, st, unnest(range(st, st + 8)) AS p FROM dw
            ), cov AS (
                SELECT doc_id,
                       CAST(COUNT(DISTINCT st) AS INTEGER) AS n_dup_windows,
                       CAST(COUNT(DISTINCT p) AS INTEGER) AS covered_tokens
                FROM pos GROUP BY 1
            )
            SELECT b.doc_id, b.n_tokens,
                   GREATEST(b.n_tokens - 8 + 1, 0) AS n_windows,
                   COALESCE(c.n_dup_windows, 0) AS n_dup_windows,
                   COALESCE(c.covered_tokens, 0) AS covered_tokens,
                   CASE WHEN b.n_tokens > 0
                        THEN CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE)
                             / CAST(b.n_tokens AS DOUBLE)
                        ELSE 0.0 END AS dup_fraction,
                   (CASE WHEN b.n_tokens > 0
                         THEN CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE)
                              / CAST(b.n_tokens AS DOUBLE)
                         ELSE 0.0 END) >= 0.5 AS flagged
            FROM base b LEFT JOIN cov c ON c.doc_id = b.doc_id
        """,
        # d10: the shared pair relation (see _D10_SQL)
        "d10_edit_pairs": _D10_SQL,
        # d11: connected components over the SAME edit-verified pair set
        # (recursive transitive closure, exactly the d04 pattern);
        # cluster_rep = the component's minimum id
        "d11_edit_clusters": f"""
            WITH RECURSIVE pairs AS ({_D10_SQL}),
            edges AS (
                SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
                UNION ALL
                SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.src, w.r FROM reach w JOIN edges e ON e.dst = w.id
            )
            SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
            FROM reach GROUP BY id
        """,
        # d12: same distinct-window relation (df = DISTINCT docs holding
        # the window, bounded to [2, 64] like the operator), shared
        # counts over expanded pairs, containment = shared / least(n_a,
        # n_b) — one double division, bit-equal both engines
        "d12_containment_pairs": _D12_SQL,
        # h06: identical tokenization; EXACT power-of-2 bucketing via the
        # base-2 string length (DuckDB bin == Spark conv base 2 for
        # positive counts), shiftleft min_count; SUMs cast to BIGINT
        # (DuckDB SUM(int) is HUGEINT)
        "h06_zipf_histogram": """
            WITH toks AS (
                SELECT list_filter(string_split_regex(lower(TRIM(text)), '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), freq AS (
                SELECT w, CAST(COUNT(*) AS BIGINT) AS c
                FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
            )
            SELECT CAST(length(bin(c)) AS INTEGER) AS bucket,
                   CAST(1 << (CAST(length(bin(c)) AS INTEGER) - 1) AS BIGINT)
                       AS min_count,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(c) AS BIGINT) AS total_occurrences
            FROM freq GROUP BY 1, 2
        """,
        # t18: BM25 with RATIONAL Robertson idf (no ln), identical
        # operation order: idf = ((n - df + 0.5) / (df + 0.5)), term =
        # (idf * (tf * 2.5)) / (tf + 1.5 * (0.25 + 0.75 * dlnorm)),
        # dlnorm = (dl * n)::double / total::double, scores left-chained
        # in literal term order; integers exact, each division single
        "t18_bm25_search": """
            WITH tk AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(TRIM(COALESCE(text, ''))), '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), per AS (
                SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
                       CAST(len(list_filter(t, x -> x = 'dup')) AS BIGINT) AS tf0,
                       CAST(len(list_filter(t, x -> x = 'join')) AS BIGINT) AS tf1,
                       CAST(len(list_filter(t, x -> x = 'window')) AS BIGINT) AS tf2
                FROM tk
            ), stats AS (
                SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(dl) AS BIGINT) AS total_dl,
                       CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
                       CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
                       CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
                FROM per
            ), scored AS (
                SELECT doc_id,
                       (((CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
                            * (CAST(tf0 AS DOUBLE) * 2.5))
                           / (CAST(tf0 AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl * n AS DOUBLE) / CAST(total_dl AS DOUBLE))))
                       + (((CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
                            * (CAST(tf1 AS DOUBLE) * 2.5))
                           / (CAST(tf1 AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl * n AS DOUBLE) / CAST(total_dl AS DOUBLE))))
                       + (((CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
                            * (CAST(tf2 AS DOUBLE) * 2.5))
                           / (CAST(tf2 AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl * n AS DOUBLE) / CAST(total_dl AS DOUBLE))))
                       AS score
                FROM per, stats
            )
            SELECT doc_id, score,
                   CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
            FROM scored
            ORDER BY rank
            LIMIT 10
        """,
        # h08: exact integer/string arithmetic — bucket is a hex prefix
        # STRING of md5('<row>:' || token); counts cast (DuckDB HUGEINT)
        "h08_cm_sketch": """
            WITH toks AS (
                SELECT unnest(list_filter(
                           string_split_regex(lower(TRIM(text)), '\\s+'),
                           x -> x != '')) AS w
                FROM documents
            ), cells AS (
                SELECT r.row_id,
                       substr(md5(CAST(r.row_id AS VARCHAR) || ':' || w), 1, 3)
                           AS bucket
                FROM toks
                CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row_id) r
            )
            SELECT CAST(row_id AS INTEGER) AS row_id, bucket,
                   CAST(COUNT(*) AS BIGINT) AS cnt
            FROM cells GROUP BY row_id, bucket
        """,
        # t19: integer freq_sum (exact in any agg order), one double
        # division; DuckDB SUM(int) is HUGEINT -> BIGINT casts everywhere
        "t19_token_freq_score": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(TRIM(text)), '\\s+'),
                           x -> x != '')) AS w
                FROM documents
            ), unigram AS (
                SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
            ), tot AS (
                SELECT CAST(SUM(c) AS BIGINT) AS total FROM unigram
            ), per AS (
                SELECT t.doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_tokens,
                       CAST(SUM(u.c) AS BIGINT) AS freq_sum
                FROM toks t JOIN unigram u USING (w)
                GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(p.n_tokens, 0) AS n_tokens,
                   COALESCE(p.freq_sum, 0) AS freq_sum,
                   CASE WHEN COALESCE(p.n_tokens, 0) > 0
                        THEN CAST(COALESCE(p.freq_sum, 0) AS DOUBLE)
                             / CAST(COALESCE(p.n_tokens, 0) * total AS DOUBLE)
                        ELSE NULL END AS score
            FROM documents d
            LEFT JOIN per p USING (doc_id), tot
        """,
        # s08: PQ ADC — per-subspace distances are the generated chained
        # left-fold double L2^2 (operation order == the Spark fold);
        # argmin and rank are (value ASC, id ASC) total orders.
        # CTEs MATERIALIZED: DuckDB's default inlining of qd into the
        # 8-way ADC join produced a pathological plan at sf0.1 (20+ min
        # on one core vs 0.9 s materialized, identical values — verified
        # at sf0.01).
        "s08_pq_topk": f"""
            WITH pivots AS MATERIALIZED (
                SELECT vec_id AS pivot_id, embedding AS pivot_vec
                FROM embeddings WHERE vec_id % 11 = 0
            ), dists AS MATERIALIZED (
                SELECT e.vec_id, p.pivot_id,
                       {pq_d}
                FROM embeddings e CROSS JOIN pivots p
            ), enc AS MATERIALIZED (
                SELECT vec_id,
                       {pq_code}
                FROM (
                    SELECT vec_id, pivot_id,
                           {pq_rn}
                    FROM dists
                ) GROUP BY vec_id
            ), qd AS MATERIALIZED (
                SELECT q.vec_id AS query_id, p.pivot_id,
                       {pq_q}
                FROM embeddings q CROSS JOIN pivots p
                WHERE q.vec_id < 3
            ), adc AS (
                SELECT q0.query_id, e.vec_id,
                       {pq_adc} AS adc
                FROM enc e
                JOIN qd q0 ON q0.pivot_id = e.code0
                {pq_joins}
            )
            SELECT query_id, vec_id, pq_rank FROM (
                SELECT query_id, vec_id,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY adc ASC, vec_id ASC) AS INTEGER) AS pq_rank
                FROM adc
            ) WHERE pq_rank <= 10
        """,
        # h07: identical tokenization; register = md5 hex PREFIX STRING
        # (never converted to int, so grouping is engine-proof); rank =
        # exact leading-zero-bit count via anchored zero-strip + 4-way
        # CASE on the first nonzero hex digit — integers only
        "h07_hll_sketch": """
            WITH toks AS (
                SELECT unnest(list_filter(
                           string_split_regex(lower(TRIM(text)), '\\s+'),
                           x -> x != '')) AS w
                FROM documents
            ), rk AS (
                SELECT substr(md5(w), 1, 2) AS register,
                       regexp_replace(substr(md5(w), 3, 16), '^0*', '') AS nz
                FROM toks
            )
            SELECT register,
                   CAST(MAX(CASE WHEN length(nz) = 0 THEN 65
                            ELSE 4 * (16 - length(nz))
                                 + CASE WHEN substr(nz, 1, 1) = '1' THEN 3
                                        WHEN substr(nz, 1, 1) IN ('2', '3') THEN 2
                                        WHEN substr(nz, 1, 1) IN ('4', '5', '6', '7') THEN 1
                                        ELSE 0 END
                                 + 1 END) AS INTEGER) AS max_rank
            FROM rk GROUP BY register
        """,
        # t16: identical total-order rank (md5 hex string, doc_id
        # tiebreak) + the data-dependent min-count target; integers only
        "t16_lang_balance": """
            WITH ranked AS (
                SELECT doc_id, lang,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS INTEGER) AS sample_rank
                FROM documents
            ), tgt AS (
                SELECT MIN(n) AS t FROM (
                    SELECT COUNT(*) AS n FROM documents GROUP BY lang
                )
            )
            SELECT doc_id, lang, sample_rank FROM ranked, tgt
            WHERE sample_rank <= t
        """,
        "t15_decontaminate": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(TRIM(text)), '\\s+'),
                                   x -> x != '') AS t
                FROM documents
            ), grams AS (
                -- len(t) > 0 mirrors word_ngram_col's zero-token guard:
                -- a blank document owns NO grams (not the '' gram)
                SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, greatest(len(t) - 3, 1) + 1),
                                             i -> array_to_string(t[i:i+3], ' '))) AS gram
                FROM toks
                WHERE len(t) > 0
            ), ev AS (
                SELECT DISTINCT gram FROM grams WHERE doc_id % 41 = 0
            ), tr AS (
                SELECT doc_id, gram FROM grams WHERE doc_id % 41 <> 0
            )
            SELECT tr.doc_id, COUNT(*) AS n_grams, COUNT(ev.gram) AS n_matched,
                   COUNT(ev.gram) > 0 AS contaminated
            FROM tr LEFT JOIN ev USING (gram)
            GROUP BY tr.doc_id
        """,
        "t14_chunking": """
            WITH tk AS (
                SELECT doc_id,
                       list_filter(string_split_regex(TRIM(text), '\\s+'),
                                   x -> x != '') AS tk
                FROM documents
            ), st AS (
                SELECT doc_id, tk, len(tk) AS n,
                       unnest(range(0, len(tk), 24)) AS start
                FROM tk
            )
            SELECT doc_id,
                   CAST(start // 24 AS INTEGER) AS chunk_idx,
                   array_to_string(tk[start + 1 : least(start + 32, n)], ' ')
                       AS chunk_text,
                   CAST(least(32, n - start) AS INTEGER) AS n_chunk_tokens
            FROM st
            WHERE start = 0 OR start < n - 8
        """,
        # --- spatial (rectangle zones are SQL-expressible; the Spark side
        #     still runs the real kernel PIP / window / cell code paths) ---
        "g04_pip_join": f"""
            WITH pts AS ({pts}), zones AS ({zones})
            SELECT p.point_id, z.zone_key
            FROM pts p JOIN zones z
              ON p.x BETWEEN z.x0 AND z.x0 + 200.0
             AND p.y BETWEEN z.y0 AND z.y0 + 200.0
        """,
        "g05_knn_join": f"""
            WITH pts AS ({pts}),
            q(query_id, qx, qy) AS (VALUES (0, 100.0, 100.0), (1, 500.0, 500.0), (2, 900.0, 300.0))
            SELECT query_id, point_id, dist_sq, knn_rank FROM (
                SELECT q.query_id, p.point_id,
                       (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS dist_sq,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy), p.point_id
                       ) AS knn_rank
                FROM pts p CROSS JOIN q
            ) WHERE knn_rank <= 5
        """,
        "g13_bbox_overlap_join": """
            WITH boxes AS (
                SELECT event_id AS box_id,
                       CAST(event_id % 997 AS DOUBLE) AS xmin,
                       CAST((event_id * 31) % 983 AS DOUBLE) AS ymin,
                       CAST(event_id % 997 AS DOUBLE) + 40.0 AS xmax,
                       CAST((event_id * 31) % 983 AS DOUBLE) + 40.0 AS ymax
                FROM events WHERE event_id < 500
            )
            SELECT a.box_id AS id_a, b.box_id AS id_b
            FROM boxes a JOIN boxes b
              ON a.box_id < b.box_id
             AND a.xmin <= b.xmax AND b.xmin <= a.xmax
             AND a.ymin <= b.ymax AND b.ymin <= a.ymax
        """,
        "g12_knn_bucketed": f"""
            WITH pts AS ({pts}),
            q AS (SELECT CAST(range AS INT) AS query_id,
                         CAST((range * 37) % 997 AS DOUBLE) AS qx,
                         CAST((range * 61) % 983 AS DOUBLE) AS qy
                  FROM range(50))
            SELECT query_id, point_id, dist_sq, knn_rank FROM (
                SELECT q.query_id, p.point_id,
                       (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy) AS dist_sq,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY (p.x - q.qx) * (p.x - q.qx) + (p.y - q.qy) * (p.y - q.qy), p.point_id
                       ) AS knn_rank
                FROM pts p CROSS JOIN q
            ) WHERE knn_rank <= 5
        """,
        "g06_zonal_stats": f"""
            WITH pts AS ({pts}), zones AS ({zones})
            SELECT z.zone_key, COUNT(*) AS n_points,
                   MIN(p.value) AS min_value, MAX(p.value) AS max_value
            FROM pts p JOIN zones z
              ON p.x BETWEEN z.x0 AND z.x0 + 200.0
             AND p.y BETWEEN z.y0 AND z.y0 + 200.0
            GROUP BY z.zone_key
        """,
        "g08_cell_histogram": f"""
            WITH pts AS ({pts})
            SELECT ((CAST(4 AS BIGINT) << 58)
                    | ((CAST(FLOOR(x / 256.0) AS BIGINT) + 268435456) << 29)
                    | (CAST(FLOOR(y / 256.0) AS BIGINT) + 268435456)) AS cell_id,
                   COUNT(*) AS n_points
            FROM pts GROUP BY 1
        """,
        "g10_raster_zonal": f"""
            WITH pixels AS (
                SELECT range AS id,
                       CAST((range % 200) + 0.5 AS DOUBLE) * 5.0 AS x,
                       CAST((range // 200) + 0.5 AS DOUBLE) * 5.0 AS y,
                       CAST(((range % 739) * 2654435761) % 1000 AS DOUBLE) AS value
                FROM range(40000)
            ), zones AS ({zones})
            SELECT z.zone_key, COUNT(*) AS n_points,
                   MIN(p.value) AS min_value, MAX(p.value) AS max_value
            FROM pixels p JOIN zones z
              ON p.x BETWEEN z.x0 AND z.x0 + 200.0
             AND p.y BETWEEN z.y0 AND z.y0 + 200.0
            GROUP BY z.zone_key
        """,
        # g14: tile cover assignment — identical integer cell math as g08
        # (level 4, cell size 256, offset 2^28), bbox cover = the inclusive
        # floor-index range per axis
        "g14_tile_cover": """
            WITH boxes AS (
                SELECT event_id AS box_id,
                       CAST(event_id % 997 AS DOUBLE) AS xmin,
                       CAST((event_id * 31) % 983 AS DOUBLE) AS ymin,
                       CAST(event_id % 997 AS DOUBLE) + 40.0 AS xmax,
                       CAST((event_id * 31) % 983 AS DOUBLE) + 40.0 AS ymax
                FROM events WHERE event_id < 2000
            ), ix_exp AS (
                SELECT box_id, ymin, ymax,
                       unnest(range(CAST(FLOOR(xmin / 256.0) AS BIGINT),
                                    CAST(FLOOR(xmax / 256.0) AS BIGINT) + 1)) AS ix
                FROM boxes
            ), iy_exp AS (
                SELECT box_id, ix,
                       unnest(range(CAST(FLOOR(ymin / 256.0) AS BIGINT),
                                    CAST(FLOOR(ymax / 256.0) AS BIGINT) + 1)) AS iy
                FROM ix_exp
            )
            SELECT ((CAST(4 AS BIGINT) << 58)
                    | ((ix + 268435456) << 29)
                    | (iy + 268435456)) AS tile_id,
                   COUNT(*) AS n_boxes
            FROM iy_exp GROUP BY 1
        """,
        # g07: the candidate_pairs operator itself — cover-cell explode per
        # side (inclusive floor-index ranges, level 4 / size 256), equi-join
        # on the (ix, iy) cell (equivalent to the operator's encoded cell_id
        # — the encoding is injective at one level), bbox overlap refine,
        # then the reference-point dedup: keep the pair only in the cell
        # containing the lower-left corner of the bbox intersection.
        "g07_candidate_pairs": """
            WITH subs AS (
                SELECT CAST(event_id AS VARCHAR) AS url,
                       CAST(event_id % 997 AS DOUBLE) AS xmin,
                       CAST((event_id * 31) % 983 AS DOUBLE) AS ymin,
                       CAST(event_id % 997 AS DOUBLE) + 64.0 AS xmax,
                       CAST((event_id * 31) % 983 AS DOUBLE) + 64.0 AS ymax
                FROM events WHERE event_id < 1500 AND event_id % 2 = 0
            ), clips AS (
                SELECT CAST(event_id AS VARCHAR) AS url,
                       CAST((event_id * 17) % 997 AS DOUBLE) AS xmin,
                       CAST((event_id * 7) % 983 AS DOUBLE) AS ymin,
                       CAST((event_id * 17) % 997 AS DOUBLE) + 64.0 AS xmax,
                       CAST((event_id * 7) % 983 AS DOUBLE) + 64.0 AS ymax
                FROM events WHERE event_id < 1500 AND event_id % 2 = 1
            ), sub_ix AS (
                SELECT *, unnest(range(CAST(FLOOR(xmin / 256.0) AS BIGINT),
                                       CAST(FLOOR(xmax / 256.0) AS BIGINT) + 1)) AS ix
                FROM subs
            ), sub_cells AS (
                SELECT *, unnest(range(CAST(FLOOR(ymin / 256.0) AS BIGINT),
                                       CAST(FLOOR(ymax / 256.0) AS BIGINT) + 1)) AS iy
                FROM sub_ix
            ), clip_ix AS (
                SELECT *, unnest(range(CAST(FLOOR(xmin / 256.0) AS BIGINT),
                                       CAST(FLOOR(xmax / 256.0) AS BIGINT) + 1)) AS ix
                FROM clips
            ), clip_cells AS (
                SELECT *, unnest(range(CAST(FLOOR(ymin / 256.0) AS BIGINT),
                                       CAST(FLOOR(ymax / 256.0) AS BIGINT) + 1)) AS iy
                FROM clip_ix
            )
            SELECT a.url AS id_a, b.url AS id_b
            FROM sub_cells a JOIN clip_cells b
              ON a.ix = b.ix AND a.iy = b.iy
             AND a.xmin <= b.xmax AND b.xmin <= a.xmax
             AND a.ymin <= b.ymax AND b.ymin <= a.ymax
             AND CAST(FLOOR(GREATEST(a.xmin, b.xmin) / 256.0) AS BIGINT) = a.ix
             AND CAST(FLOOR(GREATEST(a.ymin, b.ymin) / 256.0) AS BIGINT) = a.iy
        """,
        # --- relational ---
        "r01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "r02_filter_projection": """
            SELECT l_orderkey, l_linenumber,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS net_price
            FROM lineitem
            WHERE l_quantity >= 30.0 AND l_returnflag = 'R'
        """,
        "r03_broadcast_join_dims": """
            SELECT r_name, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "r04_sortmerge_join": """
            SELECT o_orderpriority, COUNT(*) AS n_lines,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "r05_window_topk": """
            SELECT o_custkey, o_orderkey, o_totalprice, price_rank FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_rank
                FROM orders
            ) WHERE price_rank <= 3
        """,
        "r06_sort_limit": """
            SELECT l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
            LIMIT 10
        """,
        "r07_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "r08_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "r09_setops": """
            SELECT DISTINCT nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                INTERSECT
                SELECT s_nationkey AS nationkey FROM supplier
            )
        """,
        "r10_events_agg": """
            SELECT event_type, COUNT(*) AS n_events,
                   MIN(value) AS min_value, MAX(value) AS max_value
            FROM events GROUP BY event_type
        """,
        "r11_events_window": """
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS event_seq
            FROM events
        """,
        "r12_events_json": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
            FROM events
            WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        """,
        "r13_date_functions": """
            SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
                   CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
                   COUNT(*) AS n_orders,
                   CAST(MIN(dayofweek(o_orderdate) + 1) AS INT) AS min_dow
            FROM orders
            GROUP BY 1, 2
        """,
        "r14_rollup": """
            SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                   COALESCE(l_linestatus, 'ALL') AS linestatus,
                   GROUPING(l_returnflag, l_linestatus) AS gid,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "r20_cube": """
            SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
                   COALESCE(l_linestatus, 'ALL') AS linestatus,
                   GROUPING(l_returnflag, l_linestatus) AS gid,
                   COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        "r21_in_subquery": """
            SELECT c_custkey, c_name,
                   CASE WHEN c_custkey IN (
                       SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0
                   ) THEN 1 ELSE 0 END AS has_big_order
            FROM customer
            WHERE c_custkey NOT IN (
                SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
            )
        """,
        "r22_lag_lead": """
            SELECT user_id, event_id,
                   LAG(event_id, 1) OVER w AS prev_event_id,
                   LEAD(event_id, 1) OVER w AS next_event_id,
                   FIRST_VALUE(event_id) OVER w AS first_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        """,
        # threshold arithmetic pinned to IEEE double on BOTH engines:
        # DuckDB parses a bare 0.005 as DECIMAL and would compute the
        # boundary exactly while Spark multiplies by a double literal — a
        # count within 1 ulp of the integer boundary could diverge the
        # hash. CAST AS DOUBLE makes the FP rounding identical.
        # user_id IS NOT NULL mirrors the operator contract: NULL has no
        # value identity (value_counts drops it; the semi-join never
        # matches it), while the denominator stays the FULL row count
        "h01_heavy_hitters": """
            SELECT user_id, COUNT(*) AS n_events
            FROM events
            WHERE user_id IS NOT NULL
            GROUP BY user_id
            HAVING CAST(COUNT(*) AS DOUBLE)
                   >= CAST((SELECT COUNT(*) FROM events) AS DOUBLE) * CAST(0.005 AS DOUBLE)
        """,
        # as-of join: Spark side is the union-sort trick (one shuffle, no
        # per-key cross product); oracle is the naive range-join + argmax
        # with the identical (ts DESC, event_id DESC) winner rule
        "r15_asof_join": """
            SELECT purchase_id, asof_event_id FROM (
                SELECT p.event_id AS purchase_id, c.event_id AS asof_event_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY p.event_id
                           ORDER BY c.ts DESC, c.event_id DESC) AS rn
                FROM (SELECT * FROM events WHERE event_type = 'purchase') p
                JOIN (SELECT * FROM events WHERE event_type = 'click') c
                  ON c.user_id = p.user_id AND c.ts <= p.ts
            ) WHERE rn = 1
        """,
        "r16_sessionize": """
            WITH flagged AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR (epoch_us(ts) - epoch_us(lag(ts) OVER w)) > 1800000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ), sess AS (
                SELECT user_id, event_id, ts,
                       CAST(SUM(new_s) OVER (
                           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
                FROM flagged
            )
            SELECT user_id, event_id, session_seq,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY user_id, session_seq
                       ORDER BY ts ASC, event_id ASC) AS BIGINT) AS event_in_session
            FROM sess
        """,
        "r17_scalar_subquery": """
            SELECT c_custkey, c_name,
                   (SELECT COUNT(*) FROM orders o
                    WHERE o.o_custkey = c.c_custkey) AS n_orders
            FROM customer c
            WHERE (SELECT COUNT(*) FROM orders o
                   WHERE o.o_custkey = c.c_custkey) >= 15
        """,
        "r19_range_window": """
            SELECT user_id, event_id,
                   COUNT(*) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
                   ) AS n_last_hour,
                   NTILE(4) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ) AS quartile
            FROM events
        """,
        "r18_pivot": """
            SELECT user_id,
                   COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
                   COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
                   COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
                   COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
                   COUNT(*) FILTER (WHERE event_type = 'error') AS n_error
            FROM events GROUP BY user_id
        """,
        # --- text / dedup ---
        "t01_exact_dedup": """
            SELECT doc_id, lang, n_chars FROM (
                SELECT doc_id, lang, n_chars,
                       ROW_NUMBER() OVER (
                           PARTITION BY md5(lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g'))))
                           ORDER BY doc_id ASC) AS rn
                FROM documents
            ) WHERE rn = 1
        """,
        "t02_dup_stats": """
            SELECT md5(lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS dup_key,
                   COUNT(*) AS n_copies, MIN(doc_id) AS representative
            FROM documents
            GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "t03_text_stats": """
            SELECT doc_id,
                   LENGTH(text) AS n_chars_obs,
                   CASE WHEN TRIM(text) = '' THEN 0
                        ELSE len(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                             x -> x != '')) END AS n_tokens,
                   (LENGTH(text) - LENGTH(regexp_replace(text, '\\s', '', 'g')))
                       / (CASE WHEN LENGTH(text) > 0 THEN CAST(LENGTH(text) AS DOUBLE) ELSE 1.0 END) AS space_ratio,
                   (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))
                       / (CASE WHEN LENGTH(text) > 0 THEN CAST(LENGTH(text) AS DOUBLE) ELSE 1.0 END) AS digit_ratio
            FROM documents
        """,
        # quality composite reuses t03's ratio expressions with identical
        # operation order: (length_score + space_score + digit_score) / 3
        "t04_quality_score": """
            SELECT doc_id,
                   (LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0)
                    + CASE WHEN space_ratio >= 0.05 AND space_ratio <= 0.3
                           THEN 1.0 ELSE 0.5 END
                    + (1.0 - LEAST(digit_ratio * 4.0, 1.0))) / 3.0 AS quality
            FROM (
                SELECT doc_id, text,
                       (LENGTH(text) - LENGTH(regexp_replace(text, '\\s', '', 'g')))
                           / (CASE WHEN LENGTH(text) > 0 THEN CAST(LENGTH(text) AS DOUBLE) ELSE 1.0 END) AS space_ratio,
                       (LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))
                           / (CASE WHEN LENGTH(text) > 0 THEN CAST(LENGTH(text) AS DOUBLE) ELSE 1.0 END) AS digit_ratio
                FROM documents
            )
        """,
        "t05_langid": _langid_sql(),
        "t08_pii_scrub": _pii_scrub_sql(),
        "t09_stopword_ratio": _stopword_ratio_sql(),
        "t06_fingerprint": """
            SELECT doc_id, md5(lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
            FROM documents
        """,
        # SUM cast: DuckDB SUM(int) is HUGEINT (INT128) while Spark's is
        # BIGINT — the r01-round hash mismatch came from the result TYPE,
        # not the values; CAST pins both engines to BIGINT
        "t07_token_count": """
            SELECT lang,
                   CAST(SUM(CASE WHEN TRIM(text) = '' THEN 0
                            ELSE len(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                                 x -> x != '')) END) AS BIGINT) AS total_tokens,
                   COUNT(*) AS n_docs
            FROM documents GROUP BY lang
        """,
        # t10: exact-integer repetition signals. DuckDB len() is BIGINT and
        # list indexing is 1-based like element_at; range(1, len) is empty
        # for <2 tokens, and unnest of an empty list drops the row, so the
        # LEFT JOIN + COALESCE(0) mirrors Spark's left join + coalesce.
        "t10_repetition_stats": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\\s+'),
                                   x -> x != '') AS tk
                FROM documents
            ), base AS (
                SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                       CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct_tokens
                FROM toks
            ), grams AS (
                SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS gram
                FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
            ), gc AS (
                SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
            ), topg AS (
                SELECT doc_id, MAX(c) AS m FROM gc GROUP BY 1
            )
            SELECT b.doc_id, b.n_tokens, b.n_distinct_tokens,
                   CAST(COALESCE(t.m, 0) AS BIGINT) AS top2gram_n
            FROM base b LEFT JOIN topg t USING (doc_id)
        """,
        # d05: same synthetic messy URL, same normalization steps in the
        # same order as operators/text.py::normalize_url_col (patterns are
        # Java-regex/RE2-identical; DuckDB regexp_replace needs 'g' for the
        # global non-first-tracking-param pass)
        "d05_url_dedup": f"""
            {_D05_NORM_CTE}
            SELECT url_norm, COUNT(*) AS n_dups, MIN(doc_id) AS canonical_doc_id
            FROM n GROUP BY 1
        """,
        # d06: same synthetic multi-line page, same trim/drop-empty line
        # model, df >= 3 boilerplate rule, order-preserving rebuild.
        # concat_ws skips the NULL newsletter arg in both engines but keeps
        # the '' empty-line arg; string_agg(... ORDER BY pos) mirrors
        # Spark's array_sort(collect_list(struct(pos, line))).
        "d06_boilerplate_lines": """
            WITH t AS (
                SELECT doc_id,
                       concat_ws(chr(10),
                         'please accept our cookie policy',
                         text,
                         '',
                         '(c) ' || source || ' media group',
                         CASE WHEN doc_id % 4 = 0 THEN 'subscribe to our newsletter' END,
                         'ref ' || CAST(doc_id - doc_id % 2 AS VARCHAR)
                       ) AS txt
                FROM documents
            ), parts AS (
                SELECT doc_id, string_split(txt, chr(10)) AS ls FROM t
            ), ln AS (
                SELECT doc_id, i AS pos, TRIM(ls[i]) AS line
                FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i FROM parts)
            ), nz AS (
                SELECT * FROM ln WHERE line != ''
            ), boiler AS (
                SELECT line FROM nz GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3
            ), kept AS (
                SELECT * FROM nz WHERE line NOT IN (SELECT line FROM boiler)
            ), tot AS (
                SELECT doc_id, COUNT(*) AS n_total FROM nz GROUP BY doc_id
            ), reb AS (
                SELECT doc_id, COUNT(*) AS n_kept,
                       string_agg(line, chr(10) ORDER BY pos) AS clean_text
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(reb.clean_text, '') AS clean_text,
                   CAST(COALESCE(reb.n_kept, 0) AS BIGINT) AS n_lines_kept,
                   CAST(COALESCE(tot.n_total, 0) - COALESCE(reb.n_kept, 0) AS BIGINT)
                     AS n_lines_removed
            FROM documents d
            LEFT JOIN tot ON d.doc_id = tot.doc_id
            LEFT JOIN reb ON d.doc_id = reb.doc_id
        """,
        "t11_quality_filter": _quality_filter_sql(),
        # h02: the operator returns the exact quantile_disc element, so
        # the oracle is DuckDB's own quantile_disc per q
        "h02_exact_quantiles": """
            SELECT CAST(0.25 AS DOUBLE) AS q, quantile_disc(l_extendedprice, 0.25) AS value FROM lineitem
            UNION ALL SELECT CAST(0.5 AS DOUBLE), quantile_disc(l_extendedprice, 0.5) FROM lineitem
            UNION ALL SELECT CAST(0.75 AS DOUBLE), quantile_disc(l_extendedprice, 0.75) FROM lineitem
            UNION ALL SELECT CAST(0.9 AS DOUBLE), quantile_disc(l_extendedprice, 0.9) FROM lineitem
            UNION ALL SELECT CAST(0.99 AS DOUBLE), quantile_disc(l_extendedprice, 0.99) FROM lineitem
        """,
        # t12: identical md5-prefix rule in SQL; thresholds generated FROM
        # the operator's rate_to_hex_threshold (t05/s02 pattern)
        "t12_stratified_sample": _stratified_sample_sql(),
        # d07: the bloom pre-filter is exactness-transparent, so the oracle
        # is the plain anti-join on the identical normalized md5 key
        "d07_incremental_dedup": """
            SELECT d.doc_id, d.lang
            FROM documents d
            ANTI JOIN (
                SELECT md5(lower(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS key
                FROM documents WHERE doc_id % 3 = 0
            ) p
            ON md5(lower(TRIM(regexp_replace(d.text, '\\s+', ' ', 'g')))) = p.key
        """,
        # exact inverted-index n-gram Jaccard (d03): the one FP division is
        # identical single-op IEEE arithmetic in both engines. Mirrors the
        # operator's scale-safe "auto" max_df default: shingles in more
        # than max(1000, 0.1% of corpus) docs are dropped BEFORE the
        # self-join and sizes are computed after the filter.
        "d03_ngram_jaccard": _D03_SQL,
        # d01: the minhash pipeline runs in its high-recall config
        # (bands=32, rows=2 — see _d01_minhash_pairs), so verified output
        # == the EXACT \W+ 3-gram Jaccard >= 0.7 pair set, recomputed here
        # independently (inverted shingle index; regex tokenizer matches
        # Python's \W+ on this ASCII corpus; per-doc shingle SETS — the
        # operator's hash sets and these string sets have identical
        # cardinalities absent 64-bit collisions). Same single-division
        # IEEE jaccard as d03.
        "d01_minhash_pairs": """
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                   x -> x <> '') AS tk
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS shingle
                FROM (SELECT doc_id, tk,
                             unnest(range(1, greatest(len(tk) - 2, 1) + 1)) AS i
                      FROM toks)
            ), sizes AS (
                SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
            ), shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(COUNT(*) AS BIGINT) AS n_shared
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   CAST(n_shared AS DOUBLE)
                       / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE CAST(n_shared AS DOUBLE)
                      / CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE) >= 0.7
        """,
        # d02: pigeonhole recall is TOTAL at n_blocks = max_hamming + 1,
        # so the output == ALL pairs within hamming 8 over the per-doc
        # simhash values. Those values come from the committed fixture
        # generated FROM the operator's _simhash64 (generated-oracle
        # pattern, like t05/s02; scripts/gen_d02_oracle_fixture.py,
        # freshness pinned by a pytest) — the oracle independently checks
        # block explode + bucket join + distinct + bit_count hamming.
        # Fixture is sf0.01-specific (the gate's sf).
        "d02_simhash_pairs": f"""
            WITH sims AS (
                SELECT doc_id, simhash
                FROM read_parquet('{fixdir}/d02_simhash_sf001.parquet')
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM sims a JOIN sims b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
        """,
        # d04: connected components over the SAME pair set, as a recursive
        # transitive closure; cluster_rep = the component's minimum id
        # (exactly what min-label propagation converges to)
        "d04_dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({_D03_SQL}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS id FROM edges),
            reach(id, r) AS (
                SELECT id, id FROM nodes
                UNION
                SELECT e.src, w.r FROM reach w JOIN edges e ON e.dst = w.id
            )
            SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_rep
            FROM reach GROUP BY id
        """,
        # --- similarity (ids + ranks only; float similarity values are
        #     engine-internal) ---
        "s01_cosine_topk": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS query_vec FROM embeddings WHERE vec_id < 3)
            SELECT query_id, vec_id, sim_rank FROM (
                SELECT q.query_id, e.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_cos_sql('e.embedding', 'q.query_vec')} DESC NULLS LAST, e.vec_id ASC
                       ) AS sim_rank
                FROM embeddings e CROSS JOIN q
            ) WHERE sim_rank <= 10
        """,
        # s05: exact near-dup baseline; threshold 0.3 sits 6.9e-05 away
        # from the nearest actual cosine in this corpus, far beyond any
        # cross-engine FP formula difference
        "s05_neardup_exact": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.3
        """,
        # s04: IVF = stride pivots -> nearest-pivot list assignment ->
        # probe nprobe lists -> exact cosine top-k within probed lists
        "s04_ivf_topk": f"""
            WITH pivots AS (
                SELECT vec_id AS pivot_id, embedding AS pivot_vec
                FROM embeddings WHERE vec_id % 37 = 0
            ), assign AS (
                SELECT vec_id, pivot_id AS list_id FROM (
                    SELECT e.vec_id, p.pivot_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY {_cos_sql('e.embedding', 'p.pivot_vec')} DESC NULLS LAST,
                                        p.pivot_id ASC) AS rn
                    FROM embeddings e CROSS JOIN pivots p
                ) WHERE rn = 1
            ), probes AS (
                SELECT query_id, pivot_id AS list_id FROM (
                    SELECT q.vec_id AS query_id, p.pivot_id,
                           ROW_NUMBER() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY {_cos_sql('q.embedding', 'p.pivot_vec')} DESC NULLS LAST,
                                        p.pivot_id ASC) AS rn
                    FROM embeddings q CROSS JOIN pivots p
                    WHERE q.vec_id < 3
                ) WHERE rn <= 2
            ), cand AS (
                SELECT pr.query_id, a.vec_id
                FROM probes pr JOIN assign a ON a.list_id = pr.list_id
            )
            SELECT query_id, vec_id, sim_rank FROM (
                SELECT c.query_id, c.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY c.query_id
                           ORDER BY {_cos_sql('e.embedding', 'q.embedding')} DESC NULLS LAST,
                                    c.vec_id ASC) AS sim_rank
                FROM cand c
                JOIN embeddings e ON e.vec_id = c.vec_id
                JOIN embeddings q ON q.vec_id = c.query_id
            ) WHERE sim_rank <= 10
        """,
        # h05: identical t07 token-count rule; integer sufficient stats
        # (DuckDB side in HUGEINT — a strict superset of Spark's long at
        # these magnitudes, same exact integers), then the same fixed
        # expression tree CAST to DOUBLE: num/(sqrt(denx)*sqrt(deny)),
        # num/denx. Zero-variance groups NULL via identical CASE.
        "h05_length_token_corr": """
            WITH base AS (
                SELECT source,
                       CAST(n_chars AS HUGEINT) AS x,
                       CAST(CASE WHEN TRIM(text) = '' THEN 0
                            ELSE len(list_filter(string_split_regex(TRIM(text), '\\s+'),
                                                 t -> t != '')) END AS HUGEINT) AS y
                FROM documents
            ), s AS (
                -- rows missing either metric are excluded from n AND
                -- the sums (same rule as the operator): mixed moments
                -- would yield a confident wrong correlation
                SELECT source,
                       CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(x) AS sx, SUM(y) AS sy,
                       SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
                FROM base
                WHERE x IS NOT NULL AND y IS NOT NULL
                GROUP BY source
            )
            SELECT source,
                   CAST(n AS BIGINT) AS n_docs,
                   CAST(sx AS BIGINT) AS chars_sum,
                   CAST(sy AS BIGINT) AS tokens_sum,
                   CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0
                        THEN NULL
                        ELSE CAST(n*sxy - sx*sy AS DOUBLE)
                             / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                                * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
                   END AS corr_chars_tokens,
                   CASE WHEN (n*sxx - sx*sx) = 0 THEN NULL
                        ELSE CAST(n*sxy - sx*sy AS DOUBLE)
                             / CAST(n*sxx - sx*sx AS DOUBLE)
                   END AS ols_slope
            FROM s
        """,
        "s02_lsh_buckets": _lsh_bucket_sql(),
        "s07_lsh_topk": _lsh_topk_sql(),
        "s03_embedding_neardup": _lsh_neardup_sql(),
    }


def _h11_group_quantiles(spark, sf_dir):
    """Exact per-group quantile_disc at integer percents
    (operators/quantiles.py::group_quantiles): rank = GREATEST(1,
    (pct*n + 99) DIV 100) under the total (value, event_id) order — the
    rank math is pure int64 and the output value is an untouched column
    element (no interpolation), so the SQL oracle reproduces every byte."""
    from rust_geo_booleanop_spark.operators import group_quantiles

    e = _t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    return group_quantiles(e, "event_type", "value", "event_id", [25, 50, 75, 90])


def _h12_group_mode(spark, sf_dir):
    """Exact per-group mode with the (count DESC, value ASC) total
    tie-break (operators/quantiles.py::group_mode): per-user most frequent
    event_type. Two map-side-partial hash aggregates + a window over each
    group's distinct values only; counts exact int64."""
    from rust_geo_booleanop_spark.operators import group_mode

    e = _t(spark, sf_dir, "events").select("user_id", "event_type")
    return group_mode(e, "user_id", "event_type")


def _r25_rank_functions(spark, sf_dir):
    """Ranking-function family coverage in ONE window pass: rank,
    dense_rank, percent_rank, cume_dist per event within its event_type,
    ordered by value alone so tie semantics (gaps, peer groups) are
    actually exercised. percent_rank = (rank-1)/(n-1) and
    cume_dist = peers/n are each ONE IEEE division of exact int64
    counts — bit-reproducible on any engine. NULL values are filtered
    up front (Spark sorts NULLs first ascending, DuckDB last)."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(F.asc("value"))
    return e.select(
        "event_id",
        "event_type",
        "value",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cume"),
    )


def _r26_full_outer_join(spark, sf_dir):
    """FULL OUTER join semantics (the one join family r03-r08 left
    uncovered): per-customer order aggregate vs a filtered customer dim,
    preserving unmatched rows on BOTH sides. Revenue is the r01
    decimal-exact accumulation cast once to double; the COALESCEd key and
    NULL passthroughs hash identically cross-engine."""
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select("c_custkey", "c_name", "c_mktsegment")
    )
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice", "total_price"),
        )
    )
    j = cust.join(agg, cust["c_custkey"] == agg["o_custkey"], "full_outer")
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        "c_name",
        "c_mktsegment",
        "n_orders",
        "total_price",
    )


def _d13_cluster_size_histogram(spark, sf_dir):
    """Dedup-savings report: the d04 connected-component clusters rolled
    into a size histogram with removable-doc counts — the number a
    curation run quotes ("collapsing near-dups removes N docs").
    Components have >= 2 members by construction (they come from the
    pair graph); singletons aren't duplicates. Exact integers; oracle
    wraps the d04 recursive CTE."""
    from rust_geo_booleanop_spark.operators import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.5)
    clusters = dedup_clusters(pairs)
    sizes = clusters.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        ((F.col("cluster_size") - 1) * F.count(F.lit(1))).alias("n_removable"),
    )


def _h19_trend_report(spark, sf_dir):
    """First-half vs second-half trend per event type: the time range
    splits at the integer midpoint day (broadcast single-row bounds, no
    collect), counts exact, growth = ONE division with a zero-first
    guard (NULL, identically on both engines)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("_day"),
    )
    bounds = e.agg(
        F.expr("(MIN(_day) + MAX(_day) + 1) DIV 2").alias("_mid")
    )
    tagged = e.crossJoin(F.broadcast(bounds))
    per = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("_day") < F.col("_mid"), 1).otherwise(0)).alias(
            "n_first"
        ),
        F.sum(F.when(F.col("_day") >= F.col("_mid"), 1).otherwise(0)).alias(
            "n_second"
        ),
    )
    return per.select(
        "event_type",
        "n_first",
        "n_second",
        F.when(
            F.col("n_first") > 0,
            F.col("n_second").cast("double") / F.col("n_first").cast("double"),
        ).alias("growth"),
    )


def _m08_video_frame_stats(spark, sf_dir):
    """Integer-exact per-keyframe video brightness
    (operators/multimodal.py::video_frame_stats): the m07 fold over the
    m03 sampling grid — real MPNG seek+decode per sampled frame. Oracle:
    per-frame fixture rows re-aggregated per clip in SQL (m06 pattern)."""
    from rust_geo_booleanop_spark.operators import synth_media, video_frame_stats
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(
        spark, build_documents(spark, sf_dir), kinds=("image", "audio", "video")
    )
    frames = video_frame_stats(media, every_ms=1000, max_frames=8)
    return frames.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("pixel_sum").alias("total_pixel_sum"),
        F.min("min_pixel").alias("min_pixel"),
        F.max("max_pixel").alias("max_pixel"),
    )


def _h18_weekday_profile(spark, sf_dir):
    """Weekday seasonality profile with ENGINE-NEUTRAL day-of-week math:
    dow = (days_since_epoch + 3) % 7 (1970-01-01 was a Thursday; 0 =
    Monday) — sidestepping the Spark-1-based / DuckDB-0-based dayofweek
    trap outright. Counts exact; mean value decimal-exact (r01 pattern)."""
    e = _t(spark, sf_dir, "events").select(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("_day"),
        "value",
    )
    return (
        e.groupBy(F.expr("(_day + 3) % 7").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum("value", "value_sum"),
        )
        .select(
            "dow",
            "n_events",
            "value_sum",
            (F.col("value_sum") / F.col("n_events").cast("double")).alias(
                "mean_value"
            ),
        )
    )


def _r36_filtered_distinct(spark, sf_dir):
    """Conditional / filtered DISTINCT aggregation: per event_type, the
    distinct user base overall and within subpopulations (value bands) in
    ONE aggregate — COUNT(DISTINCT CASE WHEN ...) semantics, identical
    ANSI meaning on both engines."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(
            F.when(F.col("value") >= 100, F.col("user_id"))
        ).alias("n_heavy_users"),
        F.countDistinct(
            F.when(F.col("value").isNull(), F.col("user_id"))
        ).alias("n_nullval_users"),
    )


def _g31_zone_transitions(spark, sf_dir):
    """Zone-to-zone movement matrix: consecutive events per user (total
    (ts, event_id) order) classified by 200-unit grid zone, counted per
    (from_zone, to_zone) — the spatial form of h15's Markov matrix, all
    integer."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (
            F.expr("(event_id % 997) DIV 200") * 5
            + F.expr("((event_id * 31) % 983) DIV 200")
        ).alias("zone"),
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.withColumn("_prev", F.lag("zone").over(w))
        .filter(F.col("_prev").isNotNull())
        .groupBy(F.col("_prev").alias("from_zone"), F.col("zone").alias("to_zone"))
        .agg(F.count(F.lit(1)).alias("n_moves"))
    )


def _s12_knn_label_purity(spark, sf_dir):
    """kNN label purity (the classifier-accuracy proxy of an embedding
    space): for sampled query vectors, the fraction of their exact
    cosine top-5 neighbors (self excluded) sharing the query's label.
    Exact integer matches + ONE division; the oracle composes the s01
    ranking with the label join."""
    from rust_geo_booleanop_spark.operators import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    topk = cosine_topk(
        emb, queries.select("query_id", "query_vec"), k=6
    ).filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    top5 = topk.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= 5)
    labeled = top5.join(
        emb.select("vec_id", "label"), on="vec_id"
    ).join(F.broadcast(queries.select("query_id", "query_label")), on="query_id")
    return labeled.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum(
            F.when(F.col("label") == F.col("query_label"), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("n_same_label"),
    ).select(
        "query_id",
        "n_neighbors",
        "n_same_label",
        (
            F.col("n_same_label").cast("double")
            / F.col("n_neighbors").cast("double")
        ).alias("label_purity"),
    )


def _m07_image_stats(spark, sf_dir):
    """Integer-exact image brightness statistics
    (operators/multimodal.py::image_stats): decoded-pixel sum/min/max and
    dark/bright clipping counts — zero floating point. Oracle: the
    committed operator-pandas fixture (m06 pattern), columns passed
    through untouched so the whole decode+fold is pinned per image."""
    from rust_geo_booleanop_spark.operators import image_stats, synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(spark, build_documents(spark, sf_dir))
    return image_stats(media)


def _g29_grid_jaccard(spark, sf_dir):
    """Spatial-occupancy Jaccard between two event populations: the grid
    cells occupied by clicks vs purchases, |A∩B| / |A∪B| — the cheap
    "do these layers cover the same places" audit. One hash aggregate
    over (cell, flags), exact int64 counts, ONE division."""
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    cells = e.select(
        F.expr("(event_id % 997) DIV 50").alias("gx"),
        F.expr("((event_id * 31) % 983) DIV 50").alias("gy"),
        (F.col("event_type") == "click").cast("int").alias("is_a"),
        (F.col("event_type") == "purchase").cast("int").alias("is_b"),
    )
    occ = cells.groupBy("gx", "gy").agg(
        F.max("is_a").alias("a"), F.max("is_b").alias("b")
    )
    agg = occ.agg(
        F.sum("a").alias("n_a"),
        F.sum("b").alias("n_b"),
        F.sum(F.col("a") * F.col("b")).alias("n_both"),
        F.count(F.lit(1)).alias("n_union"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "n_both",
        "n_union",
        (F.col("n_both").cast("double") / F.col("n_union").cast("double")).alias(
            "jaccard"
        ),
    )


def _g30_hop_directions(spark, sf_dir):
    """Movement-direction histogram over the g27 trajectory hops: each
    hop classified by (sign(dx), sign(dy)) into the 9 compass classes —
    drift/anisotropy detection in one integer histogram."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_id") % 997).alias("x"),
        ((F.col("event_id") * 31) % 983).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    hops = (
        e.withColumn("_px", F.lag("x").over(w))
        .withColumn("_py", F.lag("y").over(w))
        .filter(F.col("_px").isNotNull())
    )
    return hops.groupBy(
        F.signum((F.col("x") - F.col("_px")).cast("double"))
        .cast("int")
        .alias("dx_sign"),
        F.signum((F.col("y") - F.col("_py")).cast("double"))
        .cast("int")
        .alias("dy_sign"),
    ).agg(F.count(F.lit(1)).alias("n_hops"))


def _s11_hamming_recall(spark, sf_dir):
    """Quantization-quality audit as a query: per-query recall@5 of the
    s09 binary-signature Hamming top-k against the exact cosine top-k —
    the measurement that decides whether 1-bit compression is usable for
    a corpus. Exact integer match counts + ONE division; the oracle
    composes the same two relations in SQL."""
    from rust_geo_booleanop_spark.operators import cosine_topk, hamming_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ham = hamming_topk(emb, queries, k=5, dim=64).select("query_id", "vec_id")
    exact = cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    matches = ham.join(exact, on=["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_matches")
    )
    base = queries.select("query_id")
    return base.join(matches, on="query_id", how="left").select(
        "query_id",
        F.coalesce(F.col("n_matches"), F.lit(0)).alias("n_matches"),
        (F.coalesce(F.col("n_matches"), F.lit(0)).cast("double") / F.lit(5.0)).alias(
            "recall_at_5"
        ),
    )


def _t25_dup_ngram_stats(spark, sf_dir):
    """Within-document duplicated-3-gram coverage
    (operators/text.py::dup_ngram_stats) — the Gopher template-text
    signal; exact int64 position counts + one division."""
    from rust_geo_booleanop_spark.operators import dup_ngram_stats

    return dup_ngram_stats(_t(spark, sf_dir, "documents"), n=3)


def _r34_unpivot(spark, sf_dir):
    """UNPIVOT/melt coverage (the inverse of r18's pivot): per-event-type
    value-band counts widened by conditional aggregation, then melted
    back to (event_type, band, n) long form with Spark's unpivot; the
    oracle states the same relation as a UNION ALL of the three bands."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wide = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("value") < 10, 1).otherwise(0)).alias("low"),
        F.sum(
            F.when((F.col("value") >= 10) & (F.col("value") < 100), 1).otherwise(0)
        ).alias("mid"),
        F.sum(F.when(F.col("value") >= 100, 1).otherwise(0)).alias("high"),
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["low", "mid", "high"],
        variableColumnName="band",
        valueColumnName="n",
    )


def _r35_window_frames(spark, sf_dir):
    """Explicit window-FRAME coverage beyond r19's RANGE window:
    first_value / last_value / nth_value over asymmetric ROWS frames and
    a 3-row moving sum, all under the total (value, event_id) order.
    The moving sum runs over an int column so every aggregate is exact;
    first/last/nth return untouched column elements."""
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "value",
            (F.col("event_id") % 100).cast("long").alias("v_int"),
        )
    )
    order = [F.asc("value"), F.asc("event_id")]
    w_run = (
        Window.partitionBy("event_type")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fut = (
        Window.partitionBy("event_type")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_all = (
        Window.partitionBy("event_type")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_mov = (
        Window.partitionBy("event_type").orderBy(*order).rowsBetween(-2, 0)
    )
    return e.select(
        "event_id",
        "event_type",
        F.first_value("event_id").over(w_run).alias("first_id"),
        F.last_value("event_id").over(w_fut).alias("last_id"),
        F.nth_value("event_id", 3).over(w_all).alias("third_id"),
        F.sum("v_int").over(w_mov).alias("moving_sum3"),
    )


def _h17_lag_correlation(spark, sf_dir):
    """Lag-1 autocorrelation of the daily event count series (h05's
    exact-integer Pearson machinery): consecutive-day pairs via an
    equi-join on day+1 (never a global window over days), integer
    sufficient statistics, fixed-tree final doubles."""
    e = _t(spark, sf_dir, "events").select(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("_day")
    )
    daily = e.groupBy("_day").agg(F.count(F.lit(1)).alias("c"))
    a = daily.select(F.col("_day").alias("d"), F.col("c").alias("x"))
    b = daily.select((F.col("_day") - 1).alias("d"), F.col("c").alias("y"))
    pairs = a.join(b, on="d")
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = F.when(
        (denx == 0) | (deny == 0), F.lit(None).cast("double")
    ).otherwise(
        num.cast("double")
        / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double")))
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        F.col("sx").alias("sum_today"),
        F.col("sy").alias("sum_next"),
        corr.alias("lag1_corr"),
    )


def _r33_null_semantics(spark, sf_dir):
    """NULL-semantics battery: three-valued comparisons vs IS [NOT]
    DISTINCT FROM, COALESCE/NULLIF chains, NULL-safe aggregation counts —
    the SQL-correctness corner every engine port gets subtly wrong once.
    Same ANSI text both engines; events.props is NULL-free so NULLIF
    manufactures the NULLs deterministically."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql("""
        WITH e AS (
            SELECT event_id,
                   NULLIF(event_type, 'error') AS et,
                   NULLIF(event_id % 5, 0) AS k
            FROM events)
        SELECT COUNT(*) AS n_rows,
               COUNT(et) AS n_et_nonnull,
               COUNT(DISTINCT et) AS n_et_distinct,
               SUM(CASE WHEN et IS DISTINCT FROM 'view' THEN 1 ELSE 0 END)
                   AS n_not_view_incl_null,
               SUM(CASE WHEN et != 'view' THEN 1 ELSE 0 END)
                   AS n_not_view_3vl,
               SUM(COALESCE(k, 0)) AS sum_k_coalesced,
               SUM(CASE WHEN k IS NULL AND et IS NULL THEN 1 ELSE 0 END)
                   AS n_both_null
        FROM e
    """)


def _h16_gini(spark, sf_dir):
    """Gini concentration of per-user event counts — the corpus-balance /
    traffic-inequality statistic — via the TIE-GROUPED rank-sum identity:
    users are never individually ranked (no global window over users);
    instead the distinct-count relation (c, m_c) carries a prefix sum S_c
    over counts, and each tie block contributes c*(m*S + m*(m+1)/2) to
    the rank-weighted sum exactly. All int64 until the single final
    division. The prefix sum runs over DISTINCT count values only —
    bounded by the count range, not the user population — and is
    computed with a broadcast theta self-join (S_c = sum of m over
    c' < c), NOT an unpartitioned window: even the pathological corpus
    where every user has a distinct count never funnels the relation
    through one WindowExec task (round-5 fix; int64 sums are exact
    under any grouping, so the value is bit-identical)."""
    e = _t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    by_count = per_user.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    prior = by_count.select(F.col("c").alias("pc"), F.col("m").alias("pm"))
    blocks = (
        by_count.join(F.broadcast(prior), F.col("pc") < F.col("c"), "left")
        .groupBy("c", "m")
        .agg(F.coalesce(F.sum("pm"), F.lit(0)).alias("s"))
    )
    agg = blocks.agg(
        F.sum(F.col("m")).alias("n"),
        F.sum(F.col("c") * F.col("m")).alias("t"),
        F.sum(
            F.col("c")
            * (F.col("m") * F.col("s") + F.expr("(m * (m + 1)) DIV 2"))
        ).alias("a"),
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("t").alias("total_events"),
        (
            (2 * F.col("a") - (F.col("n") + 1) * F.col("t")).cast("double")
            / (F.col("n") * F.col("t")).cast("double")
        ).alias("gini"),
    )


def _t24_dup_rate_by_source(spark, sf_dir):
    """Per-source duplication diagnostics: documents vs distinct
    normalized-text keys (the t01 dedup key), dup rate as ONE division.
    NULL-text docs are excluded (they carry no comparable content —
    exact_dedup keeps them all for the same reason)."""
    from rust_geo_booleanop_spark.operators.dedup import normalized_text_key

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    per = d.select("source", normalized_text_key("text").alias("k")).groupBy(
        "source"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("k").alias("n_unique"),
    )
    return per.select(
        "source",
        "n_docs",
        "n_unique",
        (
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


def _g28_reverse_nn_degree(spark, sf_dir):
    """Reverse-NN degree distribution: how many sampled points chose each
    point as their nearest neighbor, histogrammed — the hub-detection
    statistic of the NN graph (hubs = sampling/density artifacts). Pure
    derivation over the g25 relation: two more exact-integer hash aggs."""
    nn = _g25_nn_distance(spark, sf_dir)
    deg = nn.groupBy("nn_id").agg(F.count(F.lit(1)).alias("nn_degree"))
    return deg.groupBy("nn_degree").agg(F.count(F.lit(1)).alias("n_points"))


def _t23_corpus_composition(spark, sf_dir):
    """Dataset-card composition report: per (lang, source) document and
    token counts plus each stratum's share of corpus tokens. Counts are
    exact int64 (t10-parity tokenization); the grand total rides a
    broadcast single-row cross join (never an unpartitioned window);
    share is ONE IEEE division."""
    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    per = d.select("lang", "source", F.size(toks).cast("long").alias("_n")).groupBy(
        "lang", "source"
    ).agg(F.count(F.lit(1)).alias("n_docs"), F.sum("_n").alias("n_tokens"))
    total = per.agg(F.sum("n_tokens").alias("_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("_total").cast("double")).alias(
            "token_share"
        ),
    )


def _s10_range_search(spark, sf_dir):
    """Cosine RANGE search (all corpus vectors with cosine >= tau per
    query — the similarity-radius complement of s01's top-k): broadcast
    queries, JVM fold cosine, threshold filter; id pairs only (the s05
    convention — cosine doubles never enter the hash)."""
    from rust_geo_booleanop_spark.operators.similarity import _cosine

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    crossed = emb.crossJoin(F.broadcast(queries))
    return (
        crossed.withColumn("cosine", _cosine(F.col("embedding"), F.col("query_vec")))
        .filter(F.col("cosine") >= 0.2)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )


def _h15_transition_matrix(spark, sf_dir):
    """Per-user event-type Markov transition counts: lag under the total
    (ts, event_id) order inside each user, then the (prev -> cur) count
    matrix with row-conditional probabilities — exact int64 counts + ONE
    division per cell."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    trans = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_prev", F.lag("event_type").over(w))
        .filter(F.col("_prev").isNotNull())
        .groupBy(F.col("_prev").alias("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row_total = trans.groupBy("prev_type").agg(
        F.sum("n_transitions").alias("_row_total")
    )
    return trans.join(row_total, on="prev_type").select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.col("_row_total").cast("double")
        ).alias("prob"),
    )


def _r32_latest_per_key(spark, sf_dir):
    """Latest-row-per-key compaction (operators/temporal.py::
    latest_snapshot): each user's most recent event under the total
    (ts, event_id) order — the SCD-1/CDC snapshot shape, planned as a
    map-side WindowGroupLimit."""
    from rust_geo_booleanop_spark.operators import latest_snapshot

    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    return latest_snapshot(e, "user_id", "ts", "event_id")


def _g27_trajectory_hops(spark, sf_dir):
    """Per-user trajectory hops: consecutive event points (total
    (ts, event_id) order) with the squared hop distance — the movement
    decomposition under integer-exact arithmetic ((a-b)*(a-b), never
    pow; integer-valued doubles so sums of two squares are exact)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_id") % 997).cast("double").alias("x"),
        ((F.col("event_id") * 31) % 983).cast("double").alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    hops = (
        e.withColumn("_px", F.lag("x").over(w))
        .withColumn("_py", F.lag("y").over(w))
        .withColumn("_hop", F.row_number().over(w) - 1)
        .filter(F.col("_px").isNotNull())
    )
    dx = F.col("x") - F.col("_px")
    dy = F.col("y") - F.col("_py")
    return hops.select(
        "user_id",
        F.col("_hop").alias("hop_no"),
        F.col("event_id").alias("to_event"),
        (dx * dx + dy * dy).alias("hop_dist2"),
    )


def _g26_grid_clusters(spark, sf_dir):
    """Density-connected hotspot clustering over the point grid
    (operators/tiling.py::grid_clusters): cells with >= 25 points,
    8-neighbor adjacency, connected components via the d04 min-label
    propagation. Cluster reps are minimum packed cell ids — all integer,
    so the recursive-CTE oracle reproduces the labels exactly."""
    from rust_geo_booleanop_spark.operators import grid_clusters

    cells = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr("(event_id % 997) DIV 50").alias("gx"),
            F.expr("((event_id * 31) % 983) DIV 50").alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return grid_clusters(cells, min_val=25)


def _h14_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention (the product-analytics retention matrix):
    cohort = epoch-week of the user's first event, one row per
    (cohort_week, week_offset) with the distinct active users. Weeks are
    pure integer arithmetic — days-since-epoch DIV 7 — sidestepping
    engine week-truncation conventions entirely."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("_day"),
    )
    first = e.groupBy("user_id").agg(
        F.expr("MIN(_day) DIV 7").alias("cohort_week")
    )
    weeks = e.select("user_id", F.expr("_day DIV 7").alias("_week")).distinct()
    return (
        weeks.join(first, on="user_id")
        .groupBy(
            "cohort_week", (F.col("_week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def _r30_calendar_fill(spark, sf_dir):
    """Gap-filled calendar aggregation (generate_series/sequence explode +
    left join): every day between the first and last order date appears,
    zero-order days included — the time-series densification every
    dashboard needs. No collect: the date sequence explodes from the
    single-row min/max aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day")
    )
    bounds = o.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    cal = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    counts = o.groupBy("day").agg(F.count(F.lit(1)).alias("_n"))
    return cal.join(counts, on="day", how="left").select(
        "day", F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders")
    )


def _r31_setops_all(spark, sf_dir):
    """Multiset set-operation semantics (INTERSECT ALL / EXCEPT ALL — the
    bag forms r09's distinct set ops left uncovered), over the
    customer/supplier nation multisets; per-key multiplicities aggregated
    so the bag semantics land in the value hash."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("int").alias("nationkey")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nationkey")
    )
    ia = (
        c.intersectAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .withColumn("op", F.lit("intersect_all"))
    )
    ea = (
        c.exceptAll(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .withColumn("op", F.lit("except_all"))
    )
    return ia.unionByName(ea).select("op", "nationkey", "multiplicity")


def _m06_audio_energy(spark, sf_dir):
    """Integer-exact audio frame features
    (operators/multimodal.py::audio_energy): per-clip totals of
    sum-of-squares energy (int64) and zero crossings over 100 ms frames.
    Oracle: per-frame rows from the committed operator-pandas fixture
    (scripts/gen_media_oracle_fixtures.py), aggregation recomputed in SQL
    — the m02 pattern, but every feature is an exact integer."""
    from rust_geo_booleanop_spark.operators import audio_energy, synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(spark, build_documents(spark, sf_dir))
    frames = audio_energy(media, frame_ms=100, max_frames=8)
    return frames.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("energy").alias("total_energy"),
        F.sum("n_zc").alias("total_zc"),
    )


def _h13_funnel(spark, sf_dir):
    """Ordered conversion funnel (operators/temporal.py::funnel_steps):
    users who did view, then click strictly after their first view, then
    purchase strictly after that. Per-step MIN timestamps via filtered
    map-side-partial aggregates + user-key equi-joins — no windows over
    user history. Strict '>' ordering makes same-timestamp pairs
    non-advancing, so the oracle is a plain CTE chain."""
    from rust_geo_booleanop_spark.operators import funnel_steps

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    return funnel_steps(e, ["view", "click", "purchase"])


def _r27_posexplode(spark, sf_dir):
    """posexplode / UNNEST WITH ORDINALITY coverage: each document's
    first three tokens with their 0-based position (the lateral-view
    shape). Spark's posexplode emits (pos, tok); the oracle rebuilds the
    ordinals from a tiny index relation (h03's zip-unnest pattern)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    return (
        d.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .filter(F.col("pos") < 3)
        .select("doc_id", "pos", "tok")
    )


def _r28_exists_join(spark, sf_dir):
    """Correlated EXISTS / NOT EXISTS coverage (the subquery spelling of
    r07 semi / r08 anti): orders that contain a line item with quantity
    >= 49 but no returned ('R') line item. Catalyst rewrites both
    predicates into one semi + one anti hash join — same ANSI text on
    both engines."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
          AND NOT EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_returnflag = 'R')
    """)


def _r29_string_functions(spark, sf_dir):
    """Scalar string-function battery over customer names: substring /
    pad / replace / reverse / position / repeat / case mapping — each
    chosen for byte-identical semantics on an ASCII corpus across
    engines (1-based positions, 0-if-absent strpos, space-padding).
    levenshtein rides along (d10 proved the cross-engine parity)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    name = F.col("c_name")
    return c.select(
        "c_custkey",
        F.upper(name).alias("upper_name"),
        F.substring(name, 1, 8).alias("prefix8"),
        F.lpad(name, 22, ".").alias("padded"),
        F.regexp_replace(name, "0", "#").alias("zero_masked"),
        F.reverse(name).alias("reversed_name"),
        F.instr(name, "1").alias("pos_one"),
        F.repeat(F.substring(name, 1, 2), 3).alias("tripled"),
        F.length(name).alias("name_len"),
        F.levenshtein(name, F.reverse(name)).alias("dist_to_reverse"),
    )


def _t22_token_novelty(spark, sf_dir):
    """Per-document vocabulary novelty (operators/text.py::token_novelty):
    fraction of the doc's distinct tokens first introduced to the corpus
    by this doc (first appearance = MIN doc_id over containing docs).
    Exact int64 counts + one IEEE division."""
    from rust_geo_booleanop_spark.operators import token_novelty

    return token_novelty(_t(spark, sf_dir, "documents"))


def _g24_morton_blocks(spark, sf_dir):
    """Z-order (Morton) curve index over the event points
    (functions/cells.py::morton_expr): the locality-preserving 1-D sort
    key behind Delta/Iceberg Z-ORDER clustering and z-range pruning.
    Points get 32-bit morton keys (pure shift/AND/OR codegen); the query
    summarizes each 1024-key prefix block — the block stats are exactly
    the min/max z-ranges a scan planner would prune against. Oracle SQL
    is GENERATED from the same MORTON_ROUNDS table (morton_sql)."""
    from rust_geo_booleanop_spark.functions import morton_expr

    e = _t(spark, sf_dir, "events")
    m = morton_expr(F.col("event_id") % 997, (F.col("event_id") * 31) % 983)
    return (
        e.select(m.alias("morton"))
        .groupBy(F.shiftright(F.col("morton"), 10).alias("z_block"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("morton").alias("min_morton"),
            F.max("morton").alias("max_morton"),
        )
    )


def _g25_nn_distance(spark, sf_dir):
    """Exact nearest-neighbor distance per sampled point: the
    point-pattern statistic behind Clark-Evans clustering tests and
    sensor-coverage audits. Spark side runs the PRODUCTION cell-bucketed
    kNN (operators/spatial_join.py::knn_join_bucketed, k=2 then drop
    self) — never the quadratic scan; the oracle IS the quadratic
    definition. Coordinates are integer-valued doubles, so squared
    distances are exact and (dist, point_id) ties resolve identically."""
    from rust_geo_booleanop_spark.operators import knn_join_bucketed

    points = _points(spark, sf_dir).select("point_id", "x", "y")
    queries = points.filter(F.col("point_id") % 20 == 0).select(
        F.col("point_id").alias("query_id"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
    )
    knn = knn_join_bucketed(points, queries, k=2)
    nonself = knn.filter(F.col("point_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("point_id"))
    return (
        nonself.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "query_id",
            F.col("point_id").alias("nn_id"),
            F.col("dist").alias("nn_dist2"),
        )
    )


def _g24_morton_sql() -> str:
    from rust_geo_booleanop_spark.functions import morton_sql

    m = morton_sql(
        "CAST(event_id % 997 AS BIGINT)", "CAST((event_id * 31) % 983 AS BIGINT)"
    )
    return f"""
        WITH m AS (SELECT {m} AS morton FROM events)
        SELECT morton >> 10 AS z_block,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               MIN(morton) AS min_morton,
               MAX(morton) AS max_morton
        FROM m GROUP BY 1
    """


def _s09_hamming_topk(spark, sf_dir):
    """Binary-quantization ANN (operators/similarity.py::hamming_topk):
    sign-bit signatures in two int64 halves, Hamming top-5 per query via
    XOR+POPCNT — exact integers end-to-end, oracle generated from the
    same bit layout (_s09_sig_sql)."""
    from rust_geo_booleanop_spark.operators import hamming_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return hamming_topk(emb, queries, k=5, dim=64)


def _s09_sig_sql(lo: int, hi: int) -> str:
    """DuckDB twin of similarity.binary_signature_cols' half expression:
    strict `> 0` per component (NULL/-0.0 -> 0 via CASE ELSE; NaN -> 1
    because BOTH engines order NaN greater than every number), bit
    weight 2^(i-lo) as a BIGINT literal, 1-based list
    indexing on the DuckDB side. GENERATED from the same layout constants
    as the operator — do not hand-edit the emitted SQL."""
    terms = [
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN CAST({1 << (i - lo)} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
        for i in range(lo, hi)
    ]
    return "(" + " + ".join(terms) + ")"


def _s09_hamming_sql() -> str:
    lo_expr = _s09_sig_sql(0, 32)
    hi_expr = _s09_sig_sql(32, 64)
    return f"""
        WITH sig AS (
            SELECT vec_id, {lo_expr} AS sig_lo, {hi_expr} AS sig_hi
            FROM embeddings),
        q AS (
            SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
            FROM sig WHERE vec_id < 5),
        scored AS (
            SELECT q.query_id, sig.vec_id,
                   CAST(bit_count(xor(sig.sig_lo, q.q_lo))
                        + bit_count(xor(sig.sig_hi, q.q_hi)) AS INTEGER)
                       AS hamming
            FROM sig, q),
        ranked AS (
            SELECT query_id, vec_id, hamming,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY hamming ASC, vec_id ASC) AS rank
            FROM scored)
        SELECT query_id, vec_id, hamming, rank FROM ranked WHERE rank <= 5
    """


def _t20_oov_rate(spark, sf_dir):
    """Per-document OOV rate vs the corpus's own top-K vocabulary
    (operators/text.py::oov_rate): exact int64 token/OOV counts + ONE
    IEEE division. The top-K vocab cut is total under (count DESC,
    token ASC), so the member set — and with it every count — is
    deterministic. K=10 here so the synthetic corpus's ~40-word
    vocabulary actually produces nonzero OOV mass."""
    from rust_geo_booleanop_spark.operators import oov_rate

    return oov_rate(_t(spark, sf_dir, "documents"), vocab_size=10)


def _t21_sequence_packing(spark, sf_dir):
    """Training sequence packing (operators/text.py::pack_sequences):
    per-language concatenated token stream chunked into 512-token bins;
    each doc's (bin_id, bin_offset, start_offset) coordinates. Pure
    int64 window cumsum under the total (lang, doc_id) order."""
    from rust_geo_booleanop_spark.operators import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), capacity=512)


def _h20_weighted_median(spark, sf_dir):
    """Exact per-type weighted median of event values
    (operators/quantiles.py::weighted_median): integer weights
    1 + event_id % 5, total (value, event_id) order, pure-int64
    crossing-row selection — no FP in the pick at all."""
    from rust_geo_booleanop_spark.operators import weighted_median

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "value",
        "event_id",
        (F.lit(1) + F.col("event_id") % 5).alias("w"),
    )
    return weighted_median(
        e, group_col="event_type", value_col="value",
        weight_col="w", tie_col="event_id",
    )


def _g32_morans_i(spark, sf_dir):
    """Moran's I spatial autocorrelation of the g26 point-count grid
    (operators/tiling.py::morans_i): 8-neighbor binary weights, the
    rational mean cleared by an n^2 scaling into pure int64 sufficient
    statistics, ONE fixed four-node double tree at the end."""
    from rust_geo_booleanop_spark.operators import morans_i

    cells = (
        _t(spark, sf_dir, "events")
        .select(
            F.expr("(event_id % 997) DIV 50").alias("gx"),
            F.expr("((event_id * 31) % 983) DIV 50").alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return morans_i(cells)


def _t26_word_length_profile(spark, sf_dir):
    """Per-language word-length distribution
    (operators/text.py::word_length_profile): proven-parity
    lower+whitespace tokenization, exact int64 strata counts, one
    exact-int division per output row for the share."""
    from rust_geo_booleanop_spark.operators import word_length_profile

    return word_length_profile(_t(spark, sf_dir, "documents"))


def _s13_hamming_histogram(spark, sf_dir):
    """Pairwise signature-distance histogram over an id-deterministic
    embedding sample (operators/similarity.py::hamming_histogram): the
    s09 bit layout, XOR+POPCNT distances, exact integer counts — the
    calibration curve for binary-quantization thresholds."""
    from rust_geo_booleanop_spark.operators import hamming_histogram

    return hamming_histogram(
        _t(spark, sf_dir, "embeddings"), sample_mod=5, sample_rem=0
    )


def _r37_array_functions(spark, sf_dir):
    """Array higher-order-function battery over the token list: size /
    array_distinct / sort_array / slice / array_join / element_at /
    filter / aggregate — all JVM codegen HOFs, zero Python. Counts are
    exact integers; string outputs are deterministic ASCII under the
    shared binary collation, so the oracle hash-matches byte-for-byte."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
        lambda x: x != "",
    )
    d = _t(spark, sf_dir, "documents").select("doc_id", toks.alias("_tk"))
    return d.select(
        "doc_id",
        F.size("_tk").alias("n_tokens"),
        F.size(F.array_distinct("_tk")).alias("n_distinct"),
        F.array_join(
            F.slice(F.sort_array(F.array_distinct("_tk")), 1, 3), ","
        ).alias("first3_sorted"),
        F.element_at(F.sort_array("_tk"), -1).alias("max_token"),
        F.aggregate(
            "_tk", F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("total_chars"),
        F.size(F.filter("_tk", lambda x: F.length(x) >= 5)).alias("n_long"),
    )


def _s13_hist_sql() -> str:
    """s13's oracle: GENERATED from the s09 signature layout
    (_s09_sig_sql) — do not hand-edit the emitted SQL."""
    lo_expr = _s09_sig_sql(0, 32)
    hi_expr = _s09_sig_sql(32, 64)
    return f"""
        WITH sig AS (
            SELECT vec_id, {lo_expr} AS sig_lo, {hi_expr} AS sig_hi
            FROM embeddings WHERE vec_id % 5 = 0),
        pr AS (
            SELECT CAST(bit_count(xor(a.sig_lo, b.sig_lo))
                        + bit_count(xor(a.sig_hi, b.sig_hi)) AS INTEGER)
                       AS hamming
            FROM sig a JOIN sig b ON a.vec_id < b.vec_id)
        SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pr GROUP BY hamming
    """


# g25's oracle (the quadratic NN definition) — shared with g28, which
# derives the reverse-NN degree histogram from the same relation.
_G25_NN_SQL = """
        WITH p AS (
            SELECT event_id AS point_id,
                   CAST(event_id % 997 AS DOUBLE) AS x,
                   CAST((event_id * 31) % 983 AS DOUBLE) AS y
            FROM events),
        q AS (SELECT * FROM p WHERE point_id % 20 = 0),
        d AS (
            -- arg-min via lexicographic struct MIN: (nn_dist2 ASC,
            -- nn_id ASC) — identical tie order to the ROW_NUMBER form
            -- but a streaming parallel aggregate instead of a window
            -- over the quadratic pair relation (~180M rows at sf0.1).
            -- nn_dist2 values are integers < 2e6, exact in DOUBLE, so
            -- the FP compare is total and engine-order-free.
            SELECT q.point_id AS query_id,
                   MIN(struct_pack(
                       nn_dist2 := (p.x - q.x) * (p.x - q.x)
                                   + (p.y - q.y) * (p.y - q.y),
                       nn_id := p.point_id)) AS s
            FROM q JOIN p ON p.point_id != q.point_id
            GROUP BY q.point_id)
        SELECT query_id, s.nn_id AS nn_id, s.nn_dist2 AS nn_dist2 FROM d
    """


def _st01_stream_window_counts(spark, sf_dir):
    """First query through the REAL Structured Streaming path
    (streaming/extraction.py::run_windowed_counts_stream): events are
    written as ONE parquet drop, consumed with Trigger.AvailableNow, and
    the watermarked hourly aggregation appends only watermark-FINALIZED
    windows (window_end <= max(ts) - 2h) to a checkpointed parquet sink,
    which this query reads back. Single-drop input => one micro-batch =>
    zero late-drop nondeterminism, so the emitted relation equals the
    batch hourly aggregation restricted by the final watermark — the
    oracle recomputes exactly that cut in SQL (boundary verified
    empirically: 865 emitted == windows with end <= max-2h on sf0.001).
    The sink rows are re-created driver-side (bounded by hours x types)
    so the scratch dir can be removed before returning."""
    import shutil
    import tempfile

    from rust_geo_booleanop_spark.streaming import run_windowed_counts_stream

    base = tempfile.mkdtemp(prefix="st01_")
    try:
        in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
        _t(spark, sf_dir, "events").coalesce(1).write.parquet(in_dir)
        run_windowed_counts_stream(spark, in_dir, out_dir, ck)
        schema = (
            "window_start timestamp, window_end timestamp, event_type string, "
            "n_events long, max_value double"
        )
        try:
            rows = spark.read.schema(schema).parquet(out_dir).collect()
        except Exception:
            rows = []  # no batch committed (empty input)
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _st02_stream_exact_dedup(spark, sf_dir):
    """Streaming exact dedup with CROSS-MICRO-BATCH state
    (streaming/extraction.py::run_exact_dedup_stream): documents are
    written as four parquet drops and consumed one file per trigger, so
    a duplicate arriving in a later micro-batch is suppressed by the
    checkpointed seen-key state, not by within-batch grouping. The
    kept-row count per lang-presence is batch-split-independent (WHICH
    representative survives varies with arrival order; the key-set size
    does not), so the query returns the order-invariant aggregate: total
    kept rows, with all-NULL-text rows collapsing to ONE key (streaming
    dropDuplicates treats NULL as a value — the documented divergence
    from batch exact_dedup, which keeps them all)."""
    import shutil
    import tempfile

    from rust_geo_booleanop_spark.streaming import run_exact_dedup_stream

    base = tempfile.mkdtemp(prefix="st02_")
    try:
        in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
        docs = _t(spark, sf_dir, "documents")
        docs.repartition(4).write.parquet(in_dir)
        run_exact_dedup_stream(spark, in_dir, out_dir, ck, max_files_per_trigger=1)
        schema = (
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        try:
            n_kept = spark.read.schema(schema).parquet(out_dir).count()
        except Exception:
            n_kept = 0
        return spark.createDataFrame([(n_kept,)], "n_unique_texts long")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _g33_salted_boolean_pipeline(spark, sf_dir):
    """The flagship boolean pipeline routed through the SALTED pair
    formation (operators/boolean_join.py::pair_candidates_salted with
    threshold=0, so every case key takes the hot path: subject rows fan
    across 4 salts, clipping rows replicate per salt, and the kernel
    consumes the streamed equi-join — no collect_list aggregation state
    anywhere). Oracle: the same committed pure-python-kernel fixture as
    g01 — hash-green here proves the salted valve is RESULT-identical to
    the collect_list shape on real corpus geometry, closing the
    'skew valve has pytest coverage but no oracle' gap."""
    from rust_geo_booleanop_spark.operators import extract_geometries
    from rust_geo_booleanop_spark.operators.boolean_join import (
        apply_boolean_ops,
        pair_candidates_salted,
    )
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir))
    pairs = pair_candidates_salted(geoms, threshold=0, factor=4)
    return apply_boolean_ops(pairs).select("case_id", "op", "n_polys")


def _r38_salted_join_revenue(spark, sf_dir):
    """Explicit hot-key salted equi-join (operators/skew.py::salted_join)
    graded against the plain join it must equal: lineitem (probe) x
    supplier (build) on suppkey with threshold=50 — at every sf each
    suppkey holds far more than 50 lineitems, so EVERY key takes the
    salted path (probe rows fan to 8 salts, build rows replicate) —
    aggregated to per-nation decimal-exact revenue. The oracle is the
    unsalted SQL join: hash-equality proves the salt dimension neither
    drops nor duplicates matches."""
    from rust_geo_booleanop_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    joined = salted_join(
        li, supp, key="l_suppkey", threshold=50, factor=8, hash_col="l_orderkey"
    )
    disc_price = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    )
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n_items"),
        F.sum(disc_price).cast("double").alias("revenue"),
    )


def _r6_boxes(spark, sf_dir):
    """Variable-size event-derived boxes (integer arithmetic on both
    engines, g13 pattern): centers on the 997x983 grid, widths/heights
    stepped by event_id residues so strict containment actually occurs."""
    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 800)
    return e.select(
        F.col("event_id").alias("box_id"),
        (F.col("event_id") % 997).cast("double").alias("xmin"),
        ((F.col("event_id") * 31) % 983).cast("double").alias("ymin"),
        ((F.col("event_id") % 997) + 10.0 + (F.col("event_id") % 7) * 15.0).alias(
            "xmax"
        ),
        (
            ((F.col("event_id") * 31) % 983)
            + 10.0
            + ((F.col("event_id") * 13) % 5) * 20.0
        ).alias("ymax"),
    )


_R6_BOXES_SQL = """
    SELECT event_id AS box_id,
           CAST(event_id % 997 AS DOUBLE) AS xmin,
           CAST((event_id * 31) % 983 AS DOUBLE) AS ymin,
           CAST(event_id % 997 AS DOUBLE) + 10.0
               + CAST(event_id % 7 AS DOUBLE) * 15.0 AS xmax,
           CAST((event_id * 31) % 983 AS DOUBLE) + 10.0
               + CAST((event_id * 13) % 5 AS DOUBLE) * 20.0 AS ymax
    FROM events WHERE event_id < 800
"""


def _g34_bbox_containment_join(spark, sf_dir):
    """Strict bbox containment theta-join (parent fully covers child,
    identity pairs excluded): the candidate-refinement shape of a
    bbox-hierarchy builder. Variable-size boxes from integer arithmetic,
    so the oracle builds the identical relation."""
    boxes = _r6_boxes(spark, sf_dir)
    a = boxes.select(*[F.col(c).alias(f"a_{c}") for c in boxes.columns])
    b = boxes.select(*[F.col(c).alias(f"b_{c}") for c in boxes.columns])
    return a.join(
        b,
        (F.col("a_box_id") != F.col("b_box_id"))
        & (F.col("a_xmin") <= F.col("b_xmin"))
        & (F.col("a_xmax") >= F.col("b_xmax"))
        & (F.col("a_ymin") <= F.col("b_ymin"))
        & (F.col("a_ymax") >= F.col("b_ymax")),
    ).select(
        F.col("a_box_id").alias("parent_id"), F.col("b_box_id").alias("child_id")
    )


def _g35_bbox_zone_hierarchy(spark, sf_dir):
    """Two-level bbox hierarchy: boxes fully inside one 200-unit zone
    nest under it; boxes crossing a zone boundary escalate to the root
    (zone = -1) — the classic loose-quadtree level assignment, all
    integer comparisons. Output: per level-key, members + the count of
    contained boxes' total area as exact ints."""
    boxes = _r6_boxes(spark, sf_dir)
    zx = F.floor(F.col("xmin") / _ZONE_W)
    zy = F.floor(F.col("ymin") / _ZONE_W)
    fits = (F.col("xmax") <= (zx + 1) * _ZONE_W) & (
        F.col("ymax") <= (zy + 1) * _ZONE_W
    ) & (zx < 5) & (zy < 5)
    zone = F.when(fits, (zx * 5 + zy).cast("long")).otherwise(F.lit(-1))
    area = (
        (F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin"))
    ).cast("long")
    return (
        boxes.select(zone.alias("zone_key"), area.alias("a"))
        .groupBy("zone_key")
        .agg(F.count(F.lit(1)).alias("n_boxes"), F.sum("a").alias("area_sum"))
    )


def _g37_cell_neighbor_occupancy(spark, sf_dir):
    """Occupied-cell 8-neighborhood audit over the 50-unit point grid
    (g26's cells): for each occupied cell, how many of its 8 neighbors
    are also occupied — the adjacency degree the hotspot clustering
    (g26) traverses, computed relationally (offset explode + equi-join,
    never a theta join)."""
    cells = (
        _points(spark, sf_dir)
        .select(
            F.expr("CAST(x AS BIGINT) DIV 50").alias("gx"),
            F.expr("CAST(y AS BIGINT) DIV 50").alias("gy"),
        )
        .groupBy("gx", "gy")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)],
        "dx long, dy long",
    )
    probes = cells.crossJoin(F.broadcast(offsets)).select(
        "gx", "gy", (F.col("gx") + F.col("dx")).alias("nx"),
        (F.col("gy") + F.col("dy")).alias("ny"),
    )
    occ = cells.select(F.col("gx").alias("nx"), F.col("gy").alias("ny"))
    hits = probes.join(occ, on=["nx", "ny"]).groupBy("gx", "gy").agg(
        F.count(F.lit(1)).alias("n_neighbors")
    )
    return (
        cells.join(hits, on=["gx", "gy"], how="left")
        .select(
            "gx",
            "gy",
            "n_points",
            F.coalesce(F.col("n_neighbors"), F.lit(0)).alias("n_neighbors"),
        )
    )


def _g38_neighbor_degree_histogram(spark, sf_dir):
    """Degree histogram of the occupied-cell adjacency graph (g37's
    relation aggregated): how connected is the occupancy pattern — the
    summary a clustering pre-pass uses to pick density thresholds."""
    return (
        _g37_cell_neighbor_occupancy(spark, sf_dir)
        .groupBy("n_neighbors")
        .agg(F.count(F.lit(1)).alias("n_cells"))
    )


def _g40_zone_coverage_by_type(spark, sf_dir):
    """Per event-type spatial coverage: distinct 200-unit zones touched
    out of the 25-zone frame, with the coverage share as ONE double
    division of exact ints."""
    e = _t(spark, sf_dir, "events")
    zone = (
        F.expr("(event_id % 997) DIV 200") * 5 + F.expr("((event_id * 31) % 983) DIV 200")
    )
    per = e.select("event_type", zone.alias("zone")).groupBy("event_type").agg(
        F.countDistinct("zone").alias("n_zones")
    )
    return per.select(
        "event_type",
        "n_zones",
        (F.col("n_zones").cast("double") / F.lit(25.0)).alias("coverage_share"),
    )


def _g41_nn_distance_histogram(spark, sf_dir):
    """Histogram of exact nearest-neighbor squared distances over the
    sampled query points (g25's relation grouped by the exact integer
    dist2 — the lattice corpus holds only a handful of distinct NN
    spacings, so the exact value IS the right bucket): the
    Clark-Evans-style spacing profile. Spark runs the PRODUCTION
    cell-bucketed kNN; the oracle is the quadratic definition — all
    integer-valued doubles, so groups are exact."""
    from rust_geo_booleanop_spark.operators import knn_join_bucketed

    points = _points(spark, sf_dir).select("point_id", "x", "y")
    queries = points.filter(F.col("point_id") % 20 == 0).select(
        F.col("point_id").alias("query_id"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
    )
    knn = knn_join_bucketed(points, queries, k=2)
    nonself = knn.filter(F.col("point_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("point_id"))
    nn = (
        nonself.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("dist").cast("long").alias("d2"))
    )
    return nn.groupBy("d2").agg(F.count(F.lit(1)).alias("n_points"))


def _g43_trajectory_sq_length(spark, sf_dir):
    """Per-user trajectory summary under EXACT arithmetic: hop count,
    total and max squared hop length as BIGINT (integer-valued hop
    coordinates, (a-b)*(a-b) forms) — the order-invariant aggregate of
    g27's hop relation, safe to sum distributed (int64, not FP)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_id") % 997).cast("double").alias("x"),
        ((F.col("event_id") * 31) % 983).cast("double").alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    hops = (
        e.withColumn("_px", F.lag("x").over(w))
        .withColumn("_py", F.lag("y").over(w))
        .filter(F.col("_px").isNotNull())
    )
    d2 = (
        (F.col("x") - F.col("_px")) * (F.col("x") - F.col("_px"))
        + (F.col("y") - F.col("_py")) * (F.col("y") - F.col("_py"))
    ).cast("long")
    return hops.select("user_id", d2.alias("d2")).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_hops"),
        F.sum("d2").alias("sq_length_sum"),
        F.max("d2").alias("sq_length_max"),
    )


def _ws_tokens(col):
    """Whitespace tokens of trimmed text (t07/t20 convention): empty
    string => zero tokens; parity with DuckDB
    list_filter(string_split_regex(TRIM(..), '\\s+'), x -> x != '')."""
    return F.filter(
        F.split(F.trim(F.coalesce(col, F.lit(""))), r"\s+"), lambda x: x != ""
    )


# the shared DuckDB tokenizer CTE fragment for the t27-t35 text oracles
_R6_TOK = r"list_filter(string_split_regex(TRIM(COALESCE(text, '')), '\s+'), x -> x != '')"
_R6_TOK_LOWER = (
    r"list_filter(string_split_regex(LOWER(TRIM(COALESCE(text, ''))), '\s+'),"
    r" x -> x != '')"
)


def _t38_pii_sql() -> str:
    """t38 oracle, GENERATED from the t08 scrub patterns so both sides
    share one regex definition (the t05/s02 generated-oracle pattern)."""
    from rust_geo_booleanop_spark.operators.text import EMAIL_PATTERN, PHONE_PATTERN

    return f"""
        WITH per AS (
            SELECT source,
                   CAST(len(regexp_extract_all(COALESCE(text, ''),
                                               '{EMAIL_PATTERN}')) AS BIGINT) AS ne,
                   CAST(len(regexp_extract_all(COALESCE(text, ''),
                                               '{PHONE_PATTERN}')) AS BIGINT) AS np
            FROM documents)
        SELECT source,
               CAST(SUM(ne) AS BIGINT) AS n_emails,
               CAST(SUM(np) AS BIGINT) AS n_phones,
               CAST(SUM(CASE WHEN ne > 0 OR np > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_with_pii,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM per GROUP BY source
    """


def _t27_composition_drift(spark, sf_dir):
    """Per-source corpus composition across crawl snapshots: warc_ts is
    doc_id seconds past the 2024-01-01 epoch (sources/documents.py), so
    snapshot = doc_id DIV 600 is the exact 10-minute crawl window. Doc
    counts and token sums are int64; each source's share of its snapshot
    is ONE double division against the broadcast per-snapshot totals (no
    window) — the mixture-drift monitor a training-data pipeline runs
    per crawl."""
    d = _t(spark, sf_dir, "documents")
    per = (
        d.select(
            "source",
            F.expr("doc_id DIV 600").alias("snapshot"),
            F.size(_ws_tokens(F.col("text"))).cast("long").alias("n_tok"),
        )
        .groupBy("source", "snapshot")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("token_sum"))
    )
    totals = per.groupBy("snapshot").agg(F.sum("n_docs").alias("snap_docs"))
    return per.join(F.broadcast(totals), on="snapshot").select(
        "source",
        "snapshot",
        "n_docs",
        "token_sum",
        (F.col("n_docs").cast("double") / F.col("snap_docs").cast("double")).alias(
            "snap_share"
        ),
    )


def _t28_quality_calibration(spark, sf_dir):
    """Quality-score calibration: decile buckets of the t04 composite
    score (identical FP expression both engines — t04 is hash-green —
    so floor(quality*10) lands in the same bucket bit-for-bit) crossed
    with the exact-dup rate per bucket. The diagnostic that tells you
    whether the quality filter actually separates boilerplate: low
    deciles should carry the duplicate mass."""
    from rust_geo_booleanop_spark.operators import quality_score
    from rust_geo_booleanop_spark.operators.dedup import normalized_text_key

    q = quality_score(_t(spark, sf_dir, "documents"))
    bucket = F.least(F.floor(F.col("quality") * 10).cast("long"), F.lit(9))
    per = q.select(
        bucket.alias("q_bucket"), normalized_text_key("text").alias("k")
    ).groupBy("q_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("k").alias("n_unique"),
    )
    return per.select(
        "q_bucket",
        "n_docs",
        "n_unique",
        (
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("dup_rate"),
    )


def _t29_sentence_stats(spark, sf_dir):
    """Per-lang sentence segmentation profile: sentences split on
    [.!?]+ runs (identical Java/RE2 class semantics), trimmed-non-empty;
    int64 sums and one final division for tokens-per-sentence."""
    d = _t(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"[.!?]+"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    per = d.select(
        "lang",
        F.size(sents).cast("long").alias("n_sent"),
        F.size(_ws_tokens(F.col("text"))).cast("long").alias("n_tok"),
    ).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sent").alias("sent_sum"),
        F.sum("n_tok").alias("token_sum"),
    )
    return per.select(
        "lang",
        "n_docs",
        "sent_sum",
        "token_sum",
        F.when(
            F.col("sent_sum") > 0,
            F.col("token_sum").cast("double") / F.col("sent_sum").cast("double"),
        ).alias("tokens_per_sentence"),
    )


def _t30_token_topk_per_lang(spark, sf_dir):
    """Top-5 tokens per lang under the (count DESC, token ASC) total
    order — the per-stratum vocab cut (t20's global cut, grouped)."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "lang", F.explode(_ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    counts = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("lang", "tok", "n", "rnk")
    )


def _t31_prefix_dup_groups(spark, sf_dir):
    """Shared-prefix grouping: docs keyed by their first 4 lowered
    whitespace tokens — the cheap boilerplate-header detector (templated
    pages share openings long before they share full text). Groups with
    >= 2 docs, deterministic representative (min doc_id)."""
    d = _t(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(_ws_tokens(F.lower(F.col("text"))), 1, 4), " ")
    return (
        d.select("doc_id", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") >= 2)
    )


def _t32_char_class_profile(spark, sf_dir):
    """Per-lang character-class composition (letters/digits/whitespace/
    other) via the t04-proven LENGTH-difference idiom — all int64."""
    d = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    total = F.length(t).cast("long")
    letters = (total - F.length(F.regexp_replace(t, "[A-Za-z]", ""))).cast("long")
    digits = (total - F.length(F.regexp_replace(t, "[0-9]", ""))).cast("long")
    spaces = (total - F.length(F.regexp_replace(t, r"\s", ""))).cast("long")
    return (
        d.select(
            "lang",
            total.alias("c"),
            letters.alias("l"),
            digits.alias("dg"),
            spaces.alias("sp"),
        )
        .groupBy("lang")
        .agg(
            F.sum("c").alias("n_chars"),
            F.sum("l").alias("n_letters"),
            F.sum("dg").alias("n_digits"),
            F.sum("sp").alias("n_spaces"),
            (F.sum("c") - F.sum("l") - F.sum("dg") - F.sum("sp")).alias("n_other"),
        )
    )


def _t33_length_quartiles_by_source(spark, sf_dir):
    """Exact per-source token-length quartiles via the h11 pure-integer
    rank selection (rank = GREATEST(1, (pct*n + 99) DIV 100)) — no
    quantile builtin on either engine, so interpolation conventions
    cannot diverge."""
    d = _t(spark, sf_dir, "documents")
    lens = d.select(
        "source",
        "doc_id",
        F.size(_ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy(F.asc("n_tokens"), F.asc("doc_id"))
    ranked = lens.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    pcts = spark.createDataFrame([(25,), (50,), (75,)], "pct int")
    return (
        ranked.crossJoin(F.broadcast(pcts))
        .filter(
            F.col("rn")
            == F.greatest(F.lit(1), F.expr("(pct * n + 99) DIV 100"))
        )
        .select("source", "pct", F.col("n_tokens").alias("value"), F.col("n").alias("n_rows"))
    )


def _t34_line_stats(spark, sf_dir):
    """Per-doc line profile: total/distinct trimmed-non-empty lines and
    the max within-doc line frequency — the d06 boilerplate signal at
    document granularity, all int64."""
    d = _t(spark, sf_dir, "documents")
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    ex = d.select("doc_id", F.explode(lines).alias("line"))
    per_line = ex.groupBy("doc_id", "line").agg(F.count(F.lit(1)).alias("c"))
    return per_line.groupBy("doc_id").agg(
        F.sum("c").alias("n_lines"),
        F.count(F.lit(1)).alias("n_distinct_lines"),
        F.max("c").alias("max_line_freq"),
    )


def _t35_ttr_buckets(spark, sf_dir):
    """Type-token-ratio histogram in EXACT integer arithmetic: bucket =
    (10 * n_distinct) DIV n_tokens (0..10) — no FP boundary can move a
    doc across buckets. The lexical-diversity profile quality filters
    threshold on."""
    d = _t(spark, sf_dir, "documents")
    toks = _ws_tokens(F.lower(F.col("text")))
    per = d.select(
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_dist"),
    ).filter(F.col("n_tok") > 0)
    bucket = F.expr("(10 * n_dist) DIV n_tok")
    return per.select(bucket.alias("ttr_bucket")).groupBy("ttr_bucket").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _t36_crosslang_dup_leakage(spark, sf_dir):
    """Cross-lang duplicate leakage: normalized-text keys by how many
    distinct langs they appear in — dedup pipelines that shard by lang
    silently miss every n_langs >= 2 class. Histogram is int-exact."""
    from rust_geo_booleanop_spark.operators.dedup import normalized_text_key

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    per_key = d.select(
        normalized_text_key("text").alias("k"), "lang"
    ).groupBy("k").agg(F.countDistinct("lang").alias("n_langs"))
    return per_key.groupBy("n_langs").agg(F.count(F.lit(1)).alias("n_keys"))


def _t37_shingle_df_histogram(spark, sf_dir):
    """Document-frequency histogram of d03's 3-gram shingles (same
    whitespace tokenization + whole-sequence fallback + per-doc
    distinct), CASE-bucketed (1, 2-3, 4-7, 8+) — the boilerplate-mass
    profile that justifies the max_df valve."""
    from rust_geo_booleanop_spark.operators.dedup import ngram_shingle_col

    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.explode(ngram_shingle_col("text", 3)).alias("shingle")
    )
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    bucket = (
        F.when(F.col("df") == 1, "1")
        .when(F.col("df") <= 3, "2-3")
        .when(F.col("df") <= 7, "4-7")
        .otherwise("8+")
    )
    return dfs.select(bucket.alias("df_bucket")).groupBy("df_bucket").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )


def _t38_pii_density_by_source(spark, sf_dir):
    """PII match density per source using the t08 scrub patterns
    (operators/text.py EMAIL_PATTERN/PHONE_PATTERN — Java/RE2-identical
    by construction, proven by t08's byte-level scrub parity): match
    counts per source plus docs containing any PII, all int64."""
    from rust_geo_booleanop_spark.operators.text import EMAIL_PATTERN, PHONE_PATTERN

    d = _t(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    n_em = F.size(F.regexp_extract_all(t, F.lit(EMAIL_PATTERN), 0)).cast("long")
    n_ph = F.size(F.regexp_extract_all(t, F.lit(PHONE_PATTERN), 0)).cast("long")
    per = d.select("source", n_em.alias("ne"), n_ph.alias("np"))
    return per.groupBy("source").agg(
        F.sum("ne").alias("n_emails"),
        F.sum("np").alias("n_phones"),
        F.sum(
            F.when((F.col("ne") > 0) | (F.col("np") > 0), 1).otherwise(0)
        ).cast("long").alias("n_docs_with_pii"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _h21_activity_span(spark, sf_dir):
    """Per-user lifetime summary: event count, active-day count, and the
    first->last span in whole seconds (unix_timestamp truncation ==
    DuckDB date_diff('second', ..) boundary count) — all int64."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("n_active_days"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "span_sec"
        ),
    )


def _h22_gap_histogram(spark, sf_dir):
    """Inter-event gap histogram: per-user consecutive gaps under the
    (ts, event_id) total order, in whole seconds, CASE-bucketed
    (<1m / <1h / <1d / >=1d) — the burstiness profile sessionization
    thresholds come from."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    gaps = (
        e.select("user_id", "ts", "event_id")
        .withColumn("_prev", F.lag("ts").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            (F.unix_timestamp("ts") - F.unix_timestamp("_prev")).alias("gap_sec")
        )
    )
    bucket = (
        F.when(F.col("gap_sec") < 60, "lt_1m")
        .when(F.col("gap_sec") < 3600, "lt_1h")
        .when(F.col("gap_sec") < 86400, "lt_1d")
        .otherwise("ge_1d")
    )
    return gaps.select(bucket.alias("gap_bucket")).groupBy("gap_bucket").agg(
        F.count(F.lit(1)).alias("n_gaps")
    )


def _h23_hourly_profile(spark, sf_dir):
    """Per-type hour-of-day load profile (0-23), int counts."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day")
    ).agg(F.count(F.lit(1)).alias("n_events"))


def _h24_type_diversity(spark, sf_dir):
    """User behavioral diversity: distinct event types per user,
    histogrammed — the engagement-breadth distribution."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.countDistinct("event_type").alias("n_types")
    )
    return per.groupBy("n_types").agg(F.count(F.lit(1)).alias("n_users"))


def _h25_daily_new_users(spark, sf_dir):
    """Daily actives, new users, and the cumulative distinct-user curve.
    Each active day is theta-joined to the BOUNDED per-day new-user
    relation on first-day <= day (broadcast, h16's no-window pattern —
    never a window over users): the sum is the running total, carried
    forward across days with no new users, and the same-day term is
    n_new. Every active day has a user whose first day is <= it, so the
    inner join keeps every day and cum_users is never NULL."""
    e = _t(spark, sf_dir, "events")
    days = e.select(F.to_date("ts").alias("d"), "user_id")
    active = days.groupBy("d").agg(F.countDistinct("user_id").alias("n_active"))
    first = days.groupBy("user_id").agg(F.min("d").alias("fd"))
    new = first.groupBy(F.col("fd").alias("nd")).agg(F.count(F.lit(1)).alias("pn"))
    same_day = F.when(F.col("nd") == F.col("d"), F.col("pn")).otherwise(0)
    return (
        active.join(F.broadcast(new), F.col("nd") <= F.col("d"))
        .groupBy("d", "n_active")
        .agg(F.sum(same_day).alias("n_new"), F.sum("pn").alias("cum_users"))
    )


def _h26_top2_share(spark, sf_dir):
    """Traffic concentration: the combined share of each event type's two
    heaviest users ((count DESC, user ASC) total order), one double
    division of exact ints."""
    e = _t(spark, sf_dir, "events")
    per = e.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("user_id"))
    top2 = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("event_type")
        .agg(F.sum("n").alias("top2_events"))
    )
    totals = per.groupBy("event_type").agg(F.sum("n").alias("n_events"))
    return totals.join(top2, on="event_type").select(
        "event_type",
        "n_events",
        "top2_events",
        (F.col("top2_events").cast("double") / F.col("n_events").cast("double")).alias(
            "top2_share"
        ),
    )


def _h27_value_extremes(spark, sf_dir):
    """Per-type exact min/max value WITH the achieving event id — the
    lexicographic struct-MIN/MAX arg-extreme idiom (g25's pattern: a
    streaming parallel aggregate, no window), ties resolved on
    event_id."""
    e = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mn = F.min(F.struct(F.col("value"), F.col("event_id")))
    mx = F.max(F.struct(F.col("value"), F.col("event_id")))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        mn.getField("value").alias("min_value"),
        mn.getField("event_id").alias("min_event_id"),
        mx.getField("value").alias("max_value"),
        mx.getField("event_id").alias("max_event_id"),
    )


def _h28_props_histogram(spark, sf_dir):
    """JSON payload profile: props.k (r12's extraction, proven parity)
    bucketed by DIV 10 per event type — all integer."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type", F.expr("k DIV 10").alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def _r39_star_join_rollup(spark, sf_dir):
    """Four-table star join (orders -> customer -> nation -> region) with
    broadcast dimensions and decimal-exact revenue per region."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    joined = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
    )
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice", "total_revenue"),
    )


def _r40_universal_quantifier(spark, sf_dir):
    """Universal quantification: customers with >= 1 order and NO order
    under 50.0 — the NOT EXISTS / anti-join composition."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    low = o.filter(F.col("o_totalprice") < 50.0).select("o_custkey").distinct()
    any_ = o.select("o_custkey").distinct()
    return (
        c.join(any_, c["c_custkey"] == any_["o_custkey"], "leftsemi")
        .join(low, c["c_custkey"] == low["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def _r41_order_ship_lag(spark, sf_dir):
    """Order-to-ship lag distribution per order priority: whole-day lag
    (datediff == DuckDB date_diff('day')) CASE-bucketed, int counts."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(lag < 30, "lt_30d")
        .when(lag < 60, "lt_60d")
        .when(lag < 90, "lt_90d")
        .otherwise("ge_90d")
    )
    return j.select("o_orderpriority", bucket.alias("lag_bucket")).groupBy(
        "o_orderpriority", "lag_bucket"
    ).agg(F.count(F.lit(1)).alias("n_items"))


def _r42_conditional_agg(spark, sf_dir):
    """Filtered/conditional aggregates per return flag: count_if and
    CASE-gated decimal sums — the dashboard-aggregate shape."""
    li = _t(spark, sf_dir, "lineitem")
    big = F.col("l_quantity") >= 30.0
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(big, 1).otherwise(0)).alias("n_big"),
        F.sum(
            F.when(big, F.col("l_extendedprice").cast("decimal(18,2)")).otherwise(
                F.lit(0).cast("decimal(18,2)")
            )
        )
        .cast("double")
        .alias("big_price_sum"),
        F.max(F.when(big, F.col("l_quantity"))).alias("max_big_qty"),
    )


def _r43_grouped_concat(spark, sf_dir):
    """Deterministic grouped string aggregation: the 3 lexicographically
    first customer names per nation, sorted then joined (collect order
    is nondeterministic; the sort makes the result total)."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("c_name")), 1, 3), ","
        ).alias("first3_names"),
    )


def _s14_nn_degree_sql() -> str:
    """s14 oracle: GENERATED from the s09 signature layout
    (_s09_sig_sql) — do not hand-edit the emitted SQL."""
    lo_expr = _s09_sig_sql(0, 32)
    hi_expr = _s09_sig_sql(32, 64)
    return f"""
        WITH sig AS (
            SELECT vec_id, {lo_expr} AS sig_lo, {hi_expr} AS sig_hi
            FROM embeddings),
        q AS (
            SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
            FROM sig WHERE vec_id % 5 = 0),
        scored AS (
            SELECT q.query_id, sig.vec_id,
                   CAST(bit_count(xor(sig.sig_lo, q.q_lo))
                        + bit_count(xor(sig.sig_hi, q.q_hi)) AS INTEGER)
                       AS hamming
            FROM sig, q WHERE sig.vec_id != q.query_id),
        nn AS (
            SELECT vec_id FROM (
                SELECT query_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY hamming ASC, vec_id ASC) AS rn
                FROM scored)
            WHERE rn = 1),
        deg AS (
            SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS in_degree
            FROM nn GROUP BY vec_id)
        SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_targets
        FROM deg GROUP BY in_degree
    """


def _s17_purity_sql() -> str:
    """s17 oracle: GENERATED from the s02 hyperplane constants
    (_lsh_bucket_exprs) — do not hand-edit the emitted SQL."""
    dot_exprs, bucket = _lsh_bucket_exprs(64, 8, 7)
    return f"""
        WITH dots AS (
            SELECT vec_id, label, {', '.join(dot_exprs)} FROM embeddings),
        per AS (
            SELECT CAST({bucket} AS BIGINT) AS lsh_bucket, label,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM dots GROUP BY 1, 2),
        major AS (
            SELECT lsh_bucket, label AS majority_label, n AS majority_count
            FROM (SELECT lsh_bucket, label, n,
                         ROW_NUMBER() OVER (PARTITION BY lsh_bucket
                                            ORDER BY n DESC, label ASC) AS rn
                  FROM per)
            WHERE rn = 1),
        tot AS (
            SELECT lsh_bucket, CAST(SUM(n) AS BIGINT) AS bucket_size
            FROM per GROUP BY lsh_bucket)
        SELECT tot.lsh_bucket, bucket_size, majority_label, majority_count
        FROM tot JOIN major ON tot.lsh_bucket = major.lsh_bucket
    """


def _s16_sign_sql() -> str:
    """s16 oracle: per-dimension strict `> 0` sign counts (the s09
    quantizer's bit convention), index via a range cross join."""
    return """
        SELECT i.dim,
               CAST(SUM(CASE WHEN embedding[i.dim] > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_positive,
               CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM embeddings, (SELECT UNNEST(range(1, 65)) AS dim) i
        GROUP BY i.dim
    """


def _g42_range_sql() -> str:
    """g42 oracle: GENERATED from functions/cells.py MORTON_ROUNDS
    (morton_sql) — do not hand-edit the emitted SQL."""
    from rust_geo_booleanop_spark.functions import morton_sql

    m = morton_sql(
        "CAST(event_id % 997 AS BIGINT)", "CAST((event_id * 31) % 983 AS BIGINT)"
    )
    return f"""
        WITH m AS (SELECT event_type, {m} AS morton FROM events)
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(MIN(morton) AS BIGINT) AS min_morton,
               CAST(MAX(morton) AS BIGINT) AS max_morton
        FROM m WHERE morton >= 200000 AND morton < 600000
        GROUP BY event_type
    """


def _s14_hamming_nn_degree(spark, sf_dir):
    """Reverse-NN in-degree over the binary-quantized signature space
    (g28's hub statistic under Hamming distance): every 5th vector finds
    its non-self NN through the PRODUCTION hamming_topk (k=2 always
    contains the true non-self NN — self sits at hamming 0), then the
    chosen-target in-degrees are histogrammed. Exact integers
    end-to-end; oracle generated from the same s09 bit layout."""
    from rust_geo_booleanop_spark.operators import hamming_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = hamming_topk(emb, queries, k=2, dim=64)
    nonself = topk.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("vec_id"))
    nn = (
        nonself.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id")
    )
    deg = nn.groupBy("vec_id").agg(F.count(F.lit(1)).alias("in_degree"))
    return deg.groupBy("in_degree").agg(F.count(F.lit(1)).alias("n_targets"))


def _s15_lsh_bucket_size_histogram(spark, sf_dir):
    """LSH bucket-size histogram (s02's bucket relation aggregated): the
    load-balance profile that predicts bucketed-join skew — exact ints
    atop the hyperplane-constant bucket ids."""
    from rust_geo_booleanop_spark.operators import with_lsh_bucket

    emb = with_lsh_bucket(_t(spark, sf_dir, "embeddings"), dim=64, n_planes=8)
    sizes = emb.groupBy("lsh_bucket").agg(F.count(F.lit(1)).alias("bucket_size"))
    return sizes.groupBy("bucket_size").agg(F.count(F.lit(1)).alias("n_buckets"))


def _s16_dim_sign_profile(spark, sf_dir):
    """Per-dimension sign balance of the embedding corpus: how many
    vectors are strictly positive in each of the 64 dims (the s09
    quantizer's bit convention) — the bit-balance audit that tells you
    whether binary quantization wastes bits on skewed dimensions. Pure
    posexplode + int counts."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("pos", "x"))
    return (
        ex.groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            F.sum(F.when(F.col("x") > 0, 1).otherwise(0)).alias("n_positive"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def _s17_bucket_label_purity(spark, sf_dir):
    """Per-LSH-bucket label purity: bucket size, majority label under
    the (count DESC, label ASC) total order, and its count — the
    clustering-quality readout for hyperplane LSH, all integer."""
    from rust_geo_booleanop_spark.operators import with_lsh_bucket

    emb = with_lsh_bucket(_t(spark, sf_dir, "embeddings"), dim=64, n_planes=8)
    per = emb.groupBy("lsh_bucket", "label").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lsh_bucket").orderBy(F.desc("n"), F.asc("label"))
    major = (
        per.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "lsh_bucket",
            F.col("label").alias("majority_label"),
            F.col("n").alias("majority_count"),
        )
    )
    totals = per.groupBy("lsh_bucket").agg(F.sum("n").alias("bucket_size"))
    return totals.join(major, on="lsh_bucket")


def _d14_dup_class_histogram(spark, sf_dir):
    """Exact-dup class-size histogram over normalized text keys: how
    much of the corpus sits in 1/2/3/..-copy classes — the headline
    dedup-savings distribution, all integer."""
    from rust_geo_booleanop_spark.operators.dedup import normalized_text_key

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    per = d.select(normalized_text_key("text").alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return per.groupBy("class_size").agg(F.count(F.lit(1)).alias("n_classes"))


def _d15_containment_degree(spark, sf_dir):
    """Quote-graph degree histogram: d12's containment pairs as an
    undirected graph, per-doc partner counts histogrammed — how
    entangled the quotation structure is (hubs = heavily-quoted
    sources). Oracle wraps the SAME _D12_SQL pair relation."""
    from rust_geo_booleanop_spark.operators import containment_pairs

    pairs = containment_pairs(
        _t(spark, sf_dir, "documents"), window=8, threshold=0.8, max_df=64
    )
    ends = pairs.select(F.col("doc_id_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_id_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


def _d16_url_dup_rate_by_source(spark, sf_dir):
    """Per-source URL duplication after canonicalization (d05's messy
    synthetic urls + the SAME normalization rules, shared via
    _D05_NORM_CTE): url count, distinct canonical urls, dup rate as one
    division."""
    from rust_geo_booleanop_spark.operators.text import normalize_url_col

    d = _t(spark, sf_dir, "documents").withColumn(
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
    per = d.withColumn("url_norm", normalize_url_col("url")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("url_norm").alias("n_canonical"),
    )
    return per.select(
        "source",
        "n_urls",
        "n_canonical",
        (
            (F.col("n_urls") - F.col("n_canonical")).cast("double")
            / F.col("n_urls").cast("double")
        ).alias("dup_rate"),
    )


def _d17_dup_savings_by_source(spark, sf_dir):
    """Exact-dedup storage savings per source: total chars minus the
    representative (min doc_id per class) chars = bytes a dedup pass
    deletes — all int64, the capacity-planning number."""
    from rust_geo_booleanop_spark.operators.dedup import normalized_text_key

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    keyed = d.select(
        "source", "doc_id", "n_chars", normalized_text_key("text").alias("k")
    )
    w = Window.partitionBy("source", "k").orderBy(F.asc("doc_id"))
    marked = keyed.withColumn("rn", F.row_number().over(w))
    return marked.groupBy("source").agg(
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0)).alias(
            "kept_chars"
        ),
        F.sum(F.when(F.col("rn") > 1, F.col("n_chars")).otherwise(0)).alias(
            "saved_chars"
        ),
    )


def _g42_morton_range_count(spark, sf_dir):
    """Z-range pruning probe: points whose morton key falls in a fixed
    z-range (the predicate a Z-ORDER-clustered scan pushes down),
    counted per event type — pure shift/AND/OR codegen, oracle
    generated from the same MORTON_ROUNDS table."""
    from rust_geo_booleanop_spark.functions import morton_expr

    e = _t(spark, sf_dir, "events")
    m = morton_expr(F.col("event_id") % 997, (F.col("event_id") * 31) % 983)
    return (
        e.select("event_type", m.alias("morton"))
        .filter((F.col("morton") >= 200_000) & (F.col("morton") < 600_000))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("morton").alias("min_morton"),
            F.max("morton").alias("max_morton"),
        )
    )


def _g36_ring_winding_audit(spark, sf_dir):
    """Ring-winding audit over kernel output
    (operators/measures.py::ring_windings): per (op, orientation,
    is_hole) ring counts across the corpus — quantifying the output
    contract that the kernel does NOT normalize hole orientation
    (reference connect_edges.rs:288: contours may mix winding rules), so
    holes are identified structurally, never by sign. Oracle: committed
    fixture from the PURE-PYTHON kernel + the FP-lockstep CPython twin
    winding_audit_python (scripts/gen_geo_oracle_fixtures.py g36),
    joined against the live documents view."""
    from rust_geo_booleanop_spark.operators import boolean_pipeline, extract_geometries
    from rust_geo_booleanop_spark.operators.measures import ring_windings
    from rust_geo_booleanop_spark.sources import build_documents

    geoms = extract_geometries(build_documents(spark, sf_dir))
    results = boolean_pipeline(geoms).filter(F.col("status") == "ok")
    rings = ring_windings(
        results.select("case_id", "op", "result_json"), geom_col="result_json"
    )
    return rings.groupBy("op", "orientation", "is_hole").agg(
        F.count(F.lit(1)).alias("n_rings")
    )


def _m09_audio_zc_histogram(spark, sf_dir):
    """Zero-crossing-rate histogram over all audio frames (the cheap
    voiced/unvoiced profile): n_zc DIV 100 buckets, exact ints through
    the real WAV decode. Oracle: the m06 per-frame fixture bucketed in
    SQL."""
    from rust_geo_booleanop_spark.operators import audio_energy, synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(spark, build_documents(spark, sf_dir))
    frames = audio_energy(media, frame_ms=100, max_frames=8)
    return frames.groupBy(F.expr("n_zc DIV 100").alias("zc_bucket")).agg(
        F.count(F.lit(1)).alias("n_frames")
    )


def _m10_image_brightness_histogram(spark, sf_dir):
    """Mean-brightness histogram over decoded images: integer mean =
    pixel_sum DIV n_pixels (0-255), DIV 32 buckets (0-7) — the exposure
    profile a vision-data curation pass filters on. Oracle: the m07
    per-image fixture bucketed in SQL."""
    from rust_geo_booleanop_spark.operators import image_stats, synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(spark, build_documents(spark, sf_dir))
    stats = image_stats(media)
    bucket = F.expr("(pixel_sum DIV n_pixels) DIV 32")
    return (
        stats.filter(F.col("n_pixels") > 0)
        .groupBy(bucket.alias("brightness_bucket"))
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


def _m11_media_size_stats(spark, sf_dir):
    """Per-kind media payload inventory: container byte sizes (real
    PNG/WAV/MPNG bytes, F.length on the binary column) and duration
    metadata — the storage-planning numbers of a multimodal corpus.
    Oracle: the m11 fixture of the operator's own container bytes."""
    from rust_geo_booleanop_spark.operators import synth_media
    from rust_geo_booleanop_spark.sources import build_documents

    media = synth_media(
        spark, build_documents(spark, sf_dir), kinds=("image", "audio", "video")
    )
    return media.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.length("media")).alias("total_bytes"),
        F.min(F.length("media")).alias("min_bytes"),
        F.max(F.length("media")).alias("max_bytes"),
        F.sum("duration_ms").alias("total_duration_ms"),
    )


def _st03_stream_sessionize(spark, sf_dir):
    """Custom STATEFUL streaming operator through the driver gate:
    gap-based sessionization via applyInPandasWithState
    (streaming/sessions.py) — per-user open-session state, closed
    sessions appended to a checkpointed parquet sink. With NoTimeout +
    AvailableNow only CLOSED sessions emit (each user's final session
    stays in state by design), so the oracle is the batch gap rule
    (exact integer microseconds, the r16 sessionize semantics) minus
    each user's last session. Single-drop input keeps batching
    deterministic; emitted rows are re-created driver-side (bounded by
    session count) so the scratch dir can be removed."""
    import shutil
    import tempfile

    from rust_geo_booleanop_spark.streaming import run_session_stream

    base = tempfile.mkdtemp(prefix="st03_")
    try:
        in_dir, out_dir, ck = f"{base}/in", f"{base}/out", f"{base}/ck"
        _t(spark, sf_dir, "events").coalesce(1).write.parquet(in_dir)
        run_session_stream(spark, in_dir, out_dir, ck, gap_seconds=1800)
        schema = (
            "user_id long, session_start timestamp, session_end timestamp, "
            "n_events long"
        )
        try:
            rows = spark.read.schema(schema).parquet(out_dir).collect()
        except Exception:
            rows = []
        return spark.createDataFrame(rows, schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)
