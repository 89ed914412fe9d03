"""Pairwise boolean operations as a Spark operator, and the one Arrow stage.

Relational shell: subjects ⋈ clippings on case_id (one shuffle; AQE handles
skew and coalescing), then the Martinez-Rueda kernel runs over Arrow
batches via `kernel_map` on `arrow_stage`, the one mapInArrow scaffold
(extraction, hull and simplify run on it too): thousands of pairs per
Python worker call. `kernel_map` is the one kernel stage: the boolean
ops here and the tile clip, area-weight clip and region normalization
of operators/tiling.py all go through it, and so do the pairs the
streaming twin completes (streaming/boolean.py). With the
native kernel each Arrow batch is one C call (`resolve_batch_runner`).
Every operator reaches the sweep through the one pair contract of
kernel/pairs.py; dissolve (operators/dissolve.py) calls its pair runner
directly.

Reference semantics: the four ops of lib/src/boolean/mod.rs:21-50, with
diff_ba = diff with swapped operands (tests/src/helper.rs:35-43).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from ..kernel.geojson import parse_multipolygon
from ..kernel.pairs import resolve_batch_runner

DEFAULT_OPS = ("intersection", "union", "diff", "xor")

# The columns `kernel_map` appends to the carried ones: one row per op.
# status: 'ok', 'invalid_input' (an operand the validity rule of
# kernel/geojson.py rejects) or 'limit_exceeded' (event budget), empty.
KERNEL_RESULT_SCHEMA = (
    "op string, result_json string, n_polys int, "
    "xmin double, ymin double, xmax double, ymax double, status string"
)


def pair_candidates(geoms: DataFrame, max_side: int = 10_000) -> DataFrame:
    """Form (subject, clipping) candidate pairs per case from ONE pass.

    Changed in round 3: the previous shape self-joined a subject branch
    and a clipping branch of the SAME extraction output, so Catalyst
    planned the documents scan + extraction stage TWICE — at 100 TB
    that doubles the most expensive scan+parse stage. Now a single scan
    feeds one shuffle on case_id (column-pruned to key + url + geom_json),
    and the subject x clipping cross product per case comes from exploding
    the two collected sides — the identical pair set the equi-join
    produced, at half the scan cost and the same one shuffle.

    Bound (guarded since round 4): a case with S subjects and C clippings
    holds S+C geometries in one aggregation row before exploding to S*C
    pairs; for the web-page corpus (one subject + one clipping per case
    URL) this is 2. A hot case key exceeding `max_side` on either side
    raises an actionable error in-plan (before the S*C explode multiplies
    the blow-up) instead of silently risking an executor OOM — such a
    corpus should use `pair_candidates_salted`, which streams the cross
    product through a salted equi-join and never materializes a case's
    geometry list in one row.
    """
    s = F.when(
        F.col("role") == "subject", F.struct(F.col("url"), F.col("geom_json"))
    )
    c = F.when(
        F.col("role") == "clipping", F.struct(F.col("url"), F.col("geom_json"))
    )
    grouped = (
        geoms.select("case_id", s.alias("s"), c.alias("c"))
        .groupBy("case_id")
        # collect_list skips NULLs: non-subject rows vanish from subs,
        # non-clipping rows from clips; a case missing either side ends
        # with an empty list and is dropped by the explode (inner-join
        # semantics preserved)
        .agg(F.collect_list("s").alias("subs"), F.collect_list("c").alias("clips"))
    )
    # Skew valve: fail fast with a routing hint on a pathologically hot
    # case key. assert_true is wrapped into the projected column (not a
    # free-standing select item) so column pruning cannot drop it.
    within = (F.size("subs") <= max_side) & (F.size("clips") <= max_side)
    guard_msg = F.concat(
        F.lit("pair_candidates: case_id "),
        F.col("case_id").cast("string"),
        F.lit(" has "),
        F.size("subs").cast("string"),
        F.lit(" subjects x "),
        F.size("clips").cast("string"),
        F.lit(
            f" clippings (max_side={max_side}); hot case keys need the "
            "salted streaming shape - use pair_candidates_salted()"
        ),
    )
    guarded_subs = F.when(F.assert_true(within, guard_msg).isNull(), F.col("subs"))
    return (
        grouped.select("case_id", F.explode(guarded_subs).alias("s"), "clips")
        .select("case_id", "s", F.explode("clips").alias("c"))
        .select(
            "case_id",
            F.col("s.url").alias("subject_url"),
            F.col("s.geom_json").alias("subject_json"),
            F.col("c.url").alias("clipping_url"),
            F.col("c.geom_json").alias("clipping_json"),
        )
    )


def pair_candidates_salted(
    geoms: DataFrame, threshold: int = 1_000, factor: int = 16
) -> DataFrame:
    """Hot-case-safe pair formation: salted equi-join instead of collect_list.

    For corpora whose case keys can be pathologically hot (one case with
    thousands of subjects/clippings), the collect_list shape of
    `pair_candidates` would hold S+C geometries in ONE aggregation row.
    This shape instead equi-joins a subject branch against a clipping
    branch on (case_id, salt) (operators/skew.py): cases past `threshold`
    subjects fan their subject rows across `factor` salts and replicate
    clipping rows per salt, so a hot case's S*C pairs stream through
    `factor` reducers with no single-row aggregation state at all.

    Tradeoff vs `pair_candidates`: Catalyst plans the extraction lineage
    twice (both branches) — at 100 TB materialize the extraction output
    first (checkpointed parquet; sources/checkpoint.py) so both branches
    re-read columnar geometry rows rather than re-parsing pages. Pair set
    is identical (tests/test_spark_pipeline.py pins equality).
    """
    from .skew import salted_join

    subjects = geoms.filter(F.col("role") == "subject").select(
        "case_id",
        F.col("url").alias("subject_url"),
        F.col("geom_json").alias("subject_json"),
    )
    clippings = geoms.filter(F.col("role") == "clipping").select(
        "case_id",
        F.col("url").alias("clipping_url"),
        F.col("geom_json").alias("clipping_json"),
    )
    joined = salted_join(
        subjects,
        clippings,
        key="case_id",
        threshold=threshold,
        factor=factor,
        hash_col="subject_url",
    )
    return joined.select(
        "case_id", "subject_url", "subject_json", "clipping_url", "clipping_json"
    )


def arrow_stage(df, operands, carry, batch_fn, payload_schema: str) -> DataFrame:
    """The one Arrow stage (mapInArrow) of every Python geometry stage.

    `batch_fn()` runs once inside the Python worker (after fork) and
    returns the per-batch function: the `operands` (column names or
    Columns) as Arrow arrays -> (index, payload). Each batch emits its
    `carry` columns taken at `index` (Arrow take: carried values never
    become Python objects), then the `payload_schema` columns, each an
    Arrow array or a sequence. Carried names must not clash with them.
    """
    exprs = [F.col(c) if isinstance(c, str) else c for c in operands]
    inp = df.select(*carry, *(e.alias(f"_operand{i}") for i, e in enumerate(exprs)))
    payload = StructType.fromDDL(payload_schema)
    schema = StructType([inp.schema[c] for c in carry] + payload.fields)
    types = [to_arrow_type(f.dataType) for f in payload.fields]
    n_carry = len(carry)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fn = batch_fn()
        for batch in it:
            index, cols = fn(*batch.columns[n_carry:])
            arrays = [
                c if isinstance(c, (pa.Array, pa.ChunkedArray))
                else pa.array(c, type=t, from_pandas=True)
                for c, t in zip(cols, types)
            ]
            yield from _result_batches(batch, n_carry, index, arrays, schema.names)

    return inp.mapInArrow(batches, schema)


def _result_batches(batch, n_carry, index, payload, names) -> list:
    """The output record batches of one input batch: its first `n_carry`
    columns taken at `index`, then the `payload` columns. A payload
    column that pa.array chunked (past 2 GiB of strings) gives several
    record batches instead of failing."""
    take = pa.array(index, type=pa.int64())
    arrays = [batch.column(i).take(take) for i in range(n_carry)]
    return pa.Table.from_arrays(arrays + payload, names=names).to_batches()


def kernel_map(
    df: DataFrame,
    subject: str,
    clipping: str | Sequence[Column],
    ops: Sequence[str],
    carry: Sequence[str] = (),
) -> DataFrame:
    """The kernel stage: run `ops` on every (subject, clipping) row of `df`
    on `arrow_stage` and emit one row per (input row, op): the `carry`
    columns, then KERNEL_RESULT_SCHEMA.

    `subject` names a GeoJSON column. `clipping` names a GeoJSON column
    or is four double columns (xmin, ymin, xmax, ymax) of a rectangle,
    computed in the JVM. Each batch is one call of the engine's batch
    runner (`kernel.pairs.resolve_batch_runner`): with the native kernel
    one C call, which parses a subject once per run of equal consecutive
    rows and builds rectangle clippings straight from their doubles. A
    NULL operand (or a NULL rectangle bound) makes no kernel call.
    Callers: `apply_boolean_ops`, the tiling operators and
    `streaming.boolean.stream_boolean_pairs`.

    A NaN bbox (empty or limit_exceeded result) reaches Spark as NULL.
    """
    ops = tuple(ops)
    is_rect = not isinstance(clipping, str)

    def batch_fn():
        run = resolve_batch_runner()

        def kernel(subject, *clipping):
            payload = run(subject, list(clipping) if is_rect else clipping[0], ops)
            return np.repeat(np.arange(len(subject)), len(ops)), payload

        return kernel

    operands = [subject] + (list(clipping) if is_rect else [clipping])
    return arrow_stage(df, operands, carry, batch_fn, KERNEL_RESULT_SCHEMA)


def geometry_stage(df, geom_col, carry, row_fn, payload_schema: str) -> DataFrame:
    """One row per input row on `arrow_stage`: the `carry` columns, then
    `payload_schema`, whose last column is `status string` and the others
    `row_fn(coords)` of the geometry, parsed once by parse_multipolygon.
    One the validity rule rejects degrades its row: `row_fn([])` (zero
    counts, the empty MultiPolygon) and 'invalid_input'. A valid one gets
    'ok', a NULL one NULL in every payload column, as in `kernel_map`.
    """

    invalid = row_fn([]) + ("invalid_input",)

    def row(gj):
        if gj is None:
            return (None,) * len(invalid)
        try:
            coords = parse_multipolygon(gj)
        except ValueError:
            return invalid
        return row_fn(coords) + ("ok",)

    def rows(geoms):
        out = [row(gj) for gj in geoms.to_pylist()]
        return np.arange(len(out)), list(zip(*out)) or [()] * len(invalid)

    return arrow_stage(df, [geom_col], carry, lambda: rows, payload_schema)


def apply_boolean_ops(pairs: DataFrame, ops: Sequence[str] = DEFAULT_OPS) -> DataFrame:
    """(case_id, *_url, *_json) pairs -> one result row per (pair, op).

    Pairs are round-robined across the cluster before the kernel stage.
    This is load-bearing: upstream joins of small/broadcastable inputs
    produce NO shuffle, so the pair table inherits the file scan's
    partitioning — a single-file source would silently serialize the
    (CPU-dominant) kernel onto one core. The extra shuffle moves only the
    small pair rows; kernel cost per row dwarfs it.
    """
    from .spatial_join import ensure_parallelism

    pairs = ensure_parallelism(pairs)
    return kernel_map(
        pairs, "subject_json", "clipping_json", ops,
        carry=("case_id", "subject_url", "clipping_url"),
    )


def boolean_pipeline(geoms: DataFrame, ops: Sequence[str] = DEFAULT_OPS) -> DataFrame:
    return apply_boolean_ops(pair_candidates(geoms), ops)
