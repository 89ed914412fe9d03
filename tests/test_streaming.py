"""Structured Streaming: incremental extraction + watermarked windows."""

import os
import shutil

from pyspark.sql import functions as F

from rust_geo_booleanop_spark.streaming import (
    run_extraction_stream,
    run_windowed_counts_stream,
)
from tests.conftest import TESTDATA_SF


def _drop_parquet(df, drop_dir, prefix):
    """Write df as parquet files directly under drop_dir (file-source drop):
    stage to a subdir, hoist the part files up with a unique prefix."""
    stage = os.path.join(drop_dir, f"_stage_{prefix}")
    df.write.parquet(stage)
    for f in os.listdir(stage):
        if f.endswith(".parquet"):
            shutil.move(os.path.join(stage, f), os.path.join(drop_dir, f"{prefix}_{f}"))
    shutil.rmtree(stage)


def test_extraction_stream_incremental(spark, tmp_path):
    drop_dir = str(tmp_path / "drops")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    os.makedirs(drop_dir)

    # drop 1: first half of the base docs
    base = spark.read.parquet(f"{TESTDATA_SF}/documents.parquet")
    half1 = base.filter(F.col("doc_id") < 250)
    _drop_parquet(half1, drop_dir, "d1")

    run_extraction_stream(spark, drop_dir, out_dir, ckpt_dir)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == half1.count()

    # drop 2: second half — restart processes ONLY the new files
    half2 = base.filter(F.col("doc_id") >= 250)
    _drop_parquet(half2, drop_dir, "d2")

    run_extraction_stream(spark, drop_dir, out_dir, ckpt_dir)
    out = spark.read.parquet(out_dir)
    assert out.count() == base.count()
    # streamed extraction == batch extraction, row for row
    from rust_geo_booleanop_spark.operators import extract_geometries
    from rust_geo_booleanop_spark.sources import build_documents

    batch = extract_geometries(build_documents(spark, TESTDATA_SF))
    assert (
        out.select("url", "geom_json").exceptAll(batch.select("url", "geom_json")).count()
        == 0
    )
    assert (
        batch.select("url", "geom_json").exceptAll(out.select("url", "geom_json")).count()
        == 0
    )


def test_stateful_sessionize_carries_state_across_restarts(spark, tmp_path):
    """applyInPandasWithState: the open session survives the first
    availableNow run via the state store checkpoint; the second run's
    events merge into it, and the emitted closed session counts events
    from BOTH batches."""
    import datetime as dt

    from rust_geo_booleanop_spark.streaming.sessions import stream_sessionize
    from rust_geo_booleanop_spark.streaming import stream_events

    drop_dir = str(tmp_path / "sess_events")
    out_dir = str(tmp_path / "sess_out")
    ckpt_dir = str(tmp_path / "sess_ckpt")
    os.makedirs(drop_dir)

    t0 = dt.datetime(2024, 3, 1)

    def mk(eid, minutes, user):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "click", 1.0, "{}")

    ddl = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def run_once():
        sessions = stream_sessionize(stream_events(spark, drop_dir), gap_seconds=1800)
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # drop 1: user 1 at m=0,10 (open session), user 2 at m=0 (open)
    _drop_parquet(
        spark.createDataFrame([mk(0, 0, 1), mk(1, 10, 1), mk(2, 0, 2)], ddl).coalesce(1),
        drop_dir, "a",
    )
    run_once()
    emitted1 = []
    if os.path.isdir(out_dir):
        from pyspark.errors import AnalysisException

        try:
            emitted1 = spark.read.parquet(out_dir).collect()
        except AnalysisException:
            emitted1 = []  # empty dir: UNABLE_TO_INFER_SCHEMA — only that
    assert emitted1 == []  # nothing closed yet — sessions still open in state

    # drop 2: user 1 at m=20 (merges into the open session) and m=120
    # (gap 100 min > 30 min -> closes it)
    _drop_parquet(
        spark.createDataFrame([mk(3, 20, 1), mk(4, 120, 1)], ddl).coalesce(1),
        drop_dir, "b",
    )
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 1
    assert r.n_events == 3  # m=0,10 from batch 1 + m=20 from batch 2
    assert r.session_start == t0
    assert r.session_end == t0 + dt.timedelta(minutes=20)


def test_streaming_exact_dedup_suppresses_cross_batch_duplicates(spark, tmp_path):
    """dropDuplicates state survives across availableNow runs via the
    checkpoint: a duplicate text arriving in a LATER file drop is
    suppressed, whitespace-variant duplicates collapse to one row."""
    from rust_geo_booleanop_spark.streaming import stream_documents, stream_exact_dedup

    drop_dir = str(tmp_path / "dd_docs")
    out_dir = str(tmp_path / "dd_out")
    ckpt_dir = str(tmp_path / "dd_ckpt")
    os.makedirs(drop_dir)

    ddl = "doc_id long, text string, lang string, source string, n_chars long"

    def run_once():
        q = (
            stream_exact_dedup(stream_documents(spark, drop_dir))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _drop_parquet(
        spark.createDataFrame(
            [
                (0, "alpha beta gamma", "en", "a", 16),
                (1, "unique one", "en", "a", 10),
                (2, "alpha  beta\tgamma", "en", "a", 17),  # ws-variant dup of 0
            ],
            ddl,
        ).coalesce(1),
        drop_dir, "a",
    )
    run_once()
    first = spark.read.parquet(out_dir).collect()
    assert len(first) == 2  # 0-or-2 (one of the variants) + 1

    _drop_parquet(
        spark.createDataFrame(
            [
                (3, "alpha beta gamma", "en", "b", 16),  # dup from batch 1
                (4, "unique two", "en", "b", 10),
            ],
            ddl,
        ).coalesce(1),
        drop_dir, "b",
    )
    run_once()
    rows = spark.read.parquet(out_dir).collect()
    texts = sorted(r.text for r in rows)
    assert len(rows) == 3  # doc 3 suppressed by cross-batch state
    assert "unique two" in texts


def test_stateful_sessionize_merges_late_events_within_batch(spark, tmp_path):
    """Late events (older than the open session by more than the gap) that
    fall within the gap of EACH OTHER chain into ONE closed session — the
    same grouping batch sessionize would produce — not per-event
    singletons."""
    import datetime as dt

    from rust_geo_booleanop_spark.streaming.sessions import stream_sessionize
    from rust_geo_booleanop_spark.streaming import stream_events

    drop_dir = str(tmp_path / "late_events")
    out_dir = str(tmp_path / "late_out")
    ckpt_dir = str(tmp_path / "late_ckpt")
    os.makedirs(drop_dir)

    t0 = dt.datetime(2024, 3, 1)

    def mk(eid, minutes, user):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "click", 1.0, "{}")

    ddl = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def run_once():
        sessions = stream_sessionize(stream_events(spark, drop_dir), gap_seconds=1800)
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: open session at m=300
    _drop_parquet(
        spark.createDataFrame([mk(0, 300, 1)], ddl).coalesce(1), drop_dir, "a"
    )
    run_once()

    # batch 2: three late events at m=0,10,20 — each >30 min before the
    # open session start (m=300) but within 30 min of each other -> ONE
    # late session; plus m=310 keeps the open session open (no emission).
    _drop_parquet(
        spark.createDataFrame(
            [mk(1, 0, 1), mk(2, 10, 1), mk(3, 20, 1), mk(4, 310, 1)], ddl
        ).coalesce(1),
        drop_dir, "b",
    )
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_events == 3
    assert r.session_start == t0
    assert r.session_end == t0 + dt.timedelta(minutes=20)


def test_stateful_sessionize_late_chain_merges_into_open_session(spark, tmp_path):
    """A late chain that connects (gap-wise) all the way to the open
    session merges INTO it instead of closing separately."""
    import datetime as dt

    from rust_geo_booleanop_spark.streaming.sessions import stream_sessionize
    from rust_geo_booleanop_spark.streaming import stream_events

    drop_dir = str(tmp_path / "chain_events")
    out_dir = str(tmp_path / "chain_out")
    ckpt_dir = str(tmp_path / "chain_ckpt")
    os.makedirs(drop_dir)

    t0 = dt.datetime(2024, 3, 1)

    def mk(eid, minutes, user):
        return (eid, t0 + dt.timedelta(minutes=minutes), user, "click", 1.0, "{}")

    ddl = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def run_once():
        sessions = stream_sessionize(stream_events(spark, drop_dir), gap_seconds=1800)
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # batch 1: open session at m=60
    _drop_parquet(
        spark.createDataFrame([mk(0, 60, 1)], ddl).coalesce(1), drop_dir, "a"
    )
    run_once()

    # batch 2: late events at m=0 and m=25 (late chain), then m=40 which is
    # within the gap of BOTH the chain (25->40) and the open session
    # (40 vs start 60): everything merges into one open session 0..60.
    # m=3000 then closes it (gap >> 30 min).
    _drop_parquet(
        spark.createDataFrame(
            [mk(1, 0, 1), mk(2, 25, 1), mk(3, 40, 1), mk(4, 3000, 1)], ddl
        ).coalesce(1),
        drop_dir, "b",
    )
    run_once()

    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_events == 4  # m=0,25,40 merged with the open m=60
    assert r.session_start == t0
    assert r.session_end == t0 + dt.timedelta(minutes=60)


def test_windowed_counts_with_watermark(spark, tmp_path):
    drop_dir = str(tmp_path / "events")
    out_dir = str(tmp_path / "win_out")
    ckpt_dir = str(tmp_path / "win_ckpt")

    events = spark.read.parquet(f"{TESTDATA_SF}/events.parquet")
    events.write.parquet(drop_dir, mode="overwrite")

    run_windowed_counts_stream(spark, drop_dir, out_dir, ckpt_dir)
    emitted = spark.read.parquet(out_dir)
    n = emitted.count()
    assert n > 0

    # every emitted (window, type) count equals the batch computation
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_batch"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_batch",
        )
    )
    # inner join must cover EVERY emitted row (no phantom windows), no
    # duplicates (exactly-once), and values must match — a left join with
    # a null-propagating != would silently pass on all three failures
    joined = emitted.join(batch, on=["window_start", "event_type"], how="inner")
    assert joined.count() == n
    assert emitted.select("window_start", "event_type").distinct().count() == n
    assert joined.filter(F.col("n_events") != F.col("n_batch")).count() == 0
    # append mode emits only watermark-finalized windows: emitted <= all
    assert n <= batch.count()


def test_streaming_boolean_tiling_matches_batch(spark, tmp_path):
    """Streaming flagship == batch flagship byte-for-byte, with subject and
    clipping pages of some cases arriving in DIFFERENT drops and the state
    store completing pairs across micro-batches AND across restarts."""
    from rust_geo_booleanop_spark.operators import (
        assign_tiles,
        boolean_pipeline,
        extract_geometries,
    )
    from rust_geo_booleanop_spark.sources import build_documents
    from rust_geo_booleanop_spark.streaming import run_boolean_tiling_stream

    drop_dir = str(tmp_path / "drops")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    os.makedirs(drop_dir)

    base = spark.read.parquet(f"{TESTDATA_SF}/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    # drop 1: all subjects of cases 0-9 plus BOTH sides of cases 10-14;
    # drop 2 (processed in a separate run): the matching clippings of
    # cases 0-9 plus cases 15-19 complete
    d1 = base.filter(
        ((F.col("doc_id") % 2 == 0) & (F.col("doc_id") < 20))
        | ((F.col("doc_id") >= 20) & (F.col("doc_id") < 30))
    )
    d2 = base.join(d1, "doc_id", "left_anti")
    _drop_parquet(d1, drop_dir, "d1")
    run_boolean_tiling_stream(spark, drop_dir, out_dir, ckpt_dir)
    n1 = spark.read.parquet(out_dir).count()

    _drop_parquet(d2, drop_dir, "d2")
    run_boolean_tiling_stream(spark, drop_dir, out_dir, ckpt_dir)
    got = spark.read.parquet(out_dir)

    # cases 10-14 completed in run 1; 0-9 completed across RUNS via the
    # state store; 15-19 within run 2
    assert n1 > 0 and got.count() > n1

    expected = assign_tiles(
        boolean_pipeline(extract_geometries(build_documents(spark, TESTDATA_SF)))
    ).filter(F.col("case_id") < 20)
    cols = [
        "case_id", "subject_url", "clipping_url", "op",
        "result_json", "n_polys", "xmin", "ymin", "xmax", "ymax", "status",
        "tile_id",
    ]
    def norm(df):
        return sorted(
            tuple(r) for r in df.select(*cols).fillna("", subset=["result_json"]).collect()
        )
    assert norm(got) == norm(expected)


def test_duplicate_side_after_completion_emits_nothing(spark, tmp_path):
    """A re-crawled duplicate side arriving AFTER its case completed must
    not re-open state or re-emit rows (the done tombstone), even when the
    missing partner side shows up again too."""
    from rust_geo_booleanop_spark.streaming import run_boolean_tiling_stream

    drop_dir = str(tmp_path / "drops")
    out_dir = str(tmp_path / "out")
    ckpt_dir = str(tmp_path / "ckpt")
    os.makedirs(drop_dir)

    base = spark.read.parquet(f"{TESTDATA_SF}/documents.parquet").filter(
        F.col("doc_id") < 4
    )
    # run 1: both sides of cases 0 and 1 -> both complete and emit
    _drop_parquet(base, drop_dir, "d1")
    run_boolean_tiling_stream(spark, drop_dir, out_dir, ckpt_dir)
    first = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    assert first

    # run 2: the same four pages re-crawled (duplicate subject AND
    # clipping of completed cases) -> tombstones swallow them
    _drop_parquet(base.withColumn("doc_id", F.col("doc_id") + 0), drop_dir, "d2")
    run_boolean_tiling_stream(spark, drop_dir, out_dir, ckpt_dir)
    second = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    assert second == first


def test_streaming_hll_matches_batch_across_batches(spark, tmp_path):
    """The streaming sketch's per-register MAX state makes the complete-
    mode output after each availableNow run equal the BATCH sketch of
    every row seen so far — bounded (<= 2^p rows) state, no watermark."""
    from rust_geo_booleanop_spark.operators import hll_sketch
    from rust_geo_booleanop_spark.streaming import stream_documents, stream_hll_sketch

    drop_dir = str(tmp_path / "hll_docs")
    ckpt_dir = str(tmp_path / "hll_ckpt")
    os.makedirs(drop_dir)
    ddl = "doc_id long, text string, lang string, source string, n_chars long"

    def run_once(view):
        q = (
            stream_hll_sketch(stream_documents(spark, drop_dir))
            .writeStream.format("memory")
            .queryName(view)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.register: r.max_rank
            for r in spark.sql(f"SELECT * FROM {view}").collect()
        }

    batch1 = spark.createDataFrame(
        [(0, "alpha beta gamma delta", "en", "a", 22),
         (1, "epsilon zeta", "en", "a", 12)],
        ddl,
    )
    _drop_parquet(batch1.coalesce(1), drop_dir, "a")
    got1 = run_once("hll_v1")
    exp1 = {r.register: r.max_rank for r in hll_sketch(batch1).collect()}
    assert got1 == exp1

    batch2 = spark.createDataFrame(
        [(2, "eta theta iota kappa", "en", "b", 20),
         (3, "alpha beta", "en", "b", 10)],  # repeats change nothing
        ddl,
    )
    _drop_parquet(batch2.coalesce(1), drop_dir, "b")
    got2 = run_once("hll_v2")
    exp2 = {
        r.register: r.max_rank for r in hll_sketch(batch1.union(batch2)).collect()
    }
    assert got2 == exp2
    assert len(got2) <= 256  # bounded-state contract at p=8
