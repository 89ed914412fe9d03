"""Streaming flagship: continuous boolean ops + tile assignment.

The batch flagship pairs a case's subject and clipping with a shuffle
(operators/boolean_join.py); on a continuous crawl the two pages of a
case can arrive in DIFFERENT file drops, so the streaming twin completes
pairs with a custom stateful operator instead:

- `stream_boolean_pairs` — `applyInPandasWithState` keyed by case_id.
  State holds the first-seen side (url + geometry JSON); when the
  partner arrives — same micro-batch or any later one — the completed
  pair is emitted in `pair_candidates`' schema and the state collapses
  to a `done` tombstone. The pairs then run through the batch kernel
  stage, `kernel_map` (one C call per Arrow batch when the C kernel is
  available). Per-key state is one geometry string only for cases still
  missing a side, so state size tracks the open-case frontier plus a few
  bytes per completed case.
- `stream_boolean_tiling` — tile assignment on top is the same pure-JVM
  cover expression as batch (stateless, streams unchanged).

Emitted rows are byte-identical to the batch pipeline's (pinned by
test): the streaming engine adds pair completion, not new geometry
semantics. Duplicate sides of an already-complete case are ignored
(first-seen wins) — the corpus contract is one subject + one clipping per
case url. Completion leaves an O(1) `done` tombstone in state (no
geometry retained) so a late-arriving duplicate side cannot re-open the
case and re-emit its rows; open cases hold one geometry string,
completed cases a few bytes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.boolean_join import DEFAULT_OPS, kernel_map

_PAIR_STATE_SCHEMA = (
    "s_url string, s_json string, c_url string, c_json string, done boolean"
)
# pair_candidates' schema
_PAIR_SCHEMA = (
    "case_id long, subject_url string, subject_json string, "
    "clipping_url string, clipping_json string"
)
_PAIR_COLUMNS = [field.split()[0] for field in _PAIR_SCHEMA.split(",")]


def _complete_pair(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One case's state step: emit its pair once, when both sides are in."""
    (case_id,) = key
    s_url, s_json, c_url, c_json, done = (
        state.get if state.exists else ("", "", "", "", False)
    )
    if done:
        # already emitted: drain and drop late duplicate sides, keep
        # the tombstone (no update needed — state persists as is)
        for _ in pdfs:
            pass
        return
    for pdf in pdfs:
        for url, role, gj in zip(pdf["url"], pdf["role"], pdf["geom_json"]):
            if role == "subject" and not s_json:
                s_url, s_json = url, gj
            elif role == "clipping" and not c_json:
                c_url, c_json = url, gj

    if s_json and c_json:
        # tombstone: geometry dropped, only the done flag survives
        state.update(("", "", "", "", True))
        yield pd.DataFrame(
            [(case_id, s_url, s_json, c_url, c_json)], columns=_PAIR_COLUMNS
        )
    else:
        # half-open case: park the seen side in state and emit nothing
        state.update((s_url, s_json, c_url, c_json, False))


def stream_boolean_pairs(geoms_stream: DataFrame, ops=DEFAULT_OPS) -> DataFrame:
    """Streaming (case_id-keyed) pair completion + kernel. Input is the
    streaming geometries relation (url, case_id, role, geom_json, ...)."""
    pairs = geoms_stream.groupBy("case_id").applyInPandasWithState(
        _complete_pair,
        outputStructType=_PAIR_SCHEMA,
        stateStructType=_PAIR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # kernel_map, not apply_boolean_ops: Spark 4.1.2 fails a round-robin
    # repartition right after applyInPandasWithState (ClassCastException)
    return kernel_map(
        pairs, "subject_json", "clipping_json", ops,
        carry=("case_id", "subject_url", "clipping_url"),
    )


def stream_boolean_tiling(geoms_stream: DataFrame, ops=DEFAULT_OPS) -> DataFrame:
    """Streaming flagship: pair completion -> kernel -> tile assignment
    (the tile cover is the same pure-JVM expression as batch)."""
    from ..operators.tiling import assign_tiles

    return assign_tiles(stream_boolean_pairs(geoms_stream, ops))


def run_boolean_tiling_stream(
    spark, input_dir: str, output_dir: str, checkpoint_dir: str, ops=DEFAULT_OPS
):
    """Run the streaming flagship over currently-available document drops
    (AvailableNow) into a checkpointed parquet sink. Pair-completion state
    survives restarts via the state store: a case whose subject arrived in
    an earlier RUN completes when its clipping lands in a later one."""
    from .extraction import stream_documents, stream_extract_geometries

    geoms = stream_extract_geometries(stream_documents(spark, input_dir))
    tiled = stream_boolean_tiling(geoms, ops)
    query = (
        tiled.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
