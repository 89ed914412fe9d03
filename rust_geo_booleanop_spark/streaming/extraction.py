"""Structured Streaming variants of the extraction pipeline.

The reference kernel is batch-only; these are engine additions for the
continuous-ingest shape of a crawl pipeline:

- `stream_documents` / `run_extraction_stream`: parquet file drops ->
  geometry extraction (same Arrow-batched code path as batch) -> parquet
  sink with checkpointed offsets. Restart resumes from the checkpoint;
  already-processed drops are never re-read (exactly-once file source).
- `windowed_event_counts`: watermarked tumbling-window aggregation over an
  event stream (late data beyond the watermark is dropped).

Tested with Trigger.AvailableNow so the suite runs bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCUMENTS_DDL = "doc_id long, text string, lang string, source string, n_chars long"
EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_documents(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Streaming source over parquet file drops of base documents."""
    return (
        spark.readStream.schema(DOCUMENTS_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_extract_geometries(stream_docs: DataFrame) -> DataFrame:
    """Same synthesis+extraction as batch, applied to a streaming relation
    (both stages are stateless maps, which work identically on streams)."""
    from ..operators.extract import extract_geometries
    from ..sources.documents import _build_batches, DOCUMENTS_SCHEMA

    with_html = stream_docs.select("doc_id", "text", "lang").mapInPandas(
        _build_batches, schema=DOCUMENTS_SCHEMA
    )
    return extract_geometries(with_html)


def run_extraction_stream(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
):
    """Run the extraction stream to completion over currently-available
    files (AvailableNow), writing parquet with checkpointed offsets.
    Returns after the sink commits; call again after new drops to process
    only the new files."""
    geoms = stream_extract_geometries(stream_documents(spark, input_dir))
    query = (
        geoms.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_exact_dedup(
    stream_docs: DataFrame,
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: the streaming twin of `operators.exact_dedup`
    (same normalized-md5 key). State carries seen keys ACROSS micro-batches
    via the checkpoint, so a duplicate arriving in a later file drop is
    suppressed, not re-emitted.

    With `ts_col`, uses dropDuplicatesWithinWatermark — seen-key state is
    evicted once the watermark passes, bounding state for endless streams
    (duplicates farther apart than `watermark` are then kept, documented
    trade-off). Without it, state grows with the distinct-key count —
    right for bounded catch-up runs, not endless ones.
    """
    from ..operators.dedup import normalized_text_key

    keyed = stream_docs.withColumn("dup_key", normalized_text_key("text"))
    if ts_col is not None:
        deduped = keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["dup_key"]
        )
    else:
        deduped = keyed.dropDuplicates(["dup_key"])
    return deduped.drop("dup_key")


def run_exact_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 8,
):
    """Run the streaming exact dedup to completion over available file
    drops (AvailableNow), appending kept rows to `output_dir` with
    checkpointed offsets + dedup state. With max_files_per_trigger=1 and
    a multi-file drop the seen-key state provably spans micro-batches: a
    duplicate arriving in a later batch is suppressed by state, not by
    within-batch grouping. Kept-row COUNT is batch-split-independent
    (first-arrival choice varies, membership of the key set does not)."""
    deduped = stream_exact_dedup(
        stream_documents(spark, input_dir, max_files_per_trigger)
    )
    query = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_events(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts per event_type with a watermark: events later
    than `watermark` past the max seen ts are dropped, state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.max("value").alias("max_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "max_value",
        )
    )


def run_windowed_counts_stream(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
):
    """Run the windowed counts to completion over available files.

    Append-mode semantics: only windows the WATERMARK has finalized are
    written — windows ending within `watermark` of the max seen event time
    stay in state and are emitted by a later run once newer drops advance
    the watermark. An AvailableNow snapshot therefore excludes the most
    recent `watermark` span by design (exactly-once, no retractions)."""
    counts = windowed_event_counts(stream_events(spark, input_dir))
    query = (
        counts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_hll_sketch(stream_docs: DataFrame, p: int = 8) -> DataFrame:
    """Streaming HyperLogLog sketch: the streaming twin of
    `operators.sketch.hll_sketch` — the IDENTICAL stateless
    (register, rank) projection (`hll_register_ranks`), with the
    per-register MAX kept as Structured Streaming aggregation state.

    State is bounded by construction at <= 2^p rows no matter how much
    stream flows through — the sketch IS the state — so this runs
    forever without a watermark. Emit with outputMode complete/update;
    after any prefix of the stream the result equals the batch sketch
    of the same rows (pinned by
    test_streaming_hll_matches_batch_across_batches).
    """
    from ..operators.sketch import hll_register_ranks

    return (
        hll_register_ranks(stream_docs, p=p)
        .groupBy("register")
        .agg(F.max("rank").alias("max_rank"))
    )
