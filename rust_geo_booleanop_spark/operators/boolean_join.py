"""Pairwise boolean operations as a Spark operator.

Relational shell: subjects ⋈ clippings on case_id (one shuffle; AQE handles
skew and coalescing), then the Martinez-Rueda kernel runs over Arrow
batches via `kernel_map` — thousands of geometry pairs per Python worker
call, never per-row Python. `kernel_map` is the one kernel stage: the
boolean ops here and the tile clip, area-weight clip and region
normalization of operators/tiling.py all go through it, and the
streaming pair completion (streaming/boolean.py) builds its rows with
the same `pair_rows` function.

Reference semantics: the four ops of lib/src/boolean/mod.rs:21-50, with
diff_ba = diff with swapped operands (tests/src/helper.rs:35-43).
"""

from __future__ import annotations

import functools
from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from ..kernel.geojson import serialize_multipolygon
from ..kernel.pairs import resolve_pair_runner

DEFAULT_OPS = ("intersection", "union", "diff", "xor")

# The columns `kernel_map` appends to the carried ones: one row per op.
KERNEL_RESULT_SCHEMA = (
    "op string, result_json string, n_polys int, "
    "xmin double, ymin double, xmax double, ymax double, status string"
)

BOOLEAN_RESULTS_SCHEMA = (
    "case_id long, subject_url string, clipping_url string, " + KERNEL_RESULT_SCHEMA
)


def pair_candidates(geoms: DataFrame, max_side: int = 10_000) -> DataFrame:
    """Form (subject, clipping) candidate pairs per case from ONE pass.

    Changed in round 3: the previous shape self-joined a subject branch
    and a clipping branch of the SAME extraction output, so Catalyst
    planned the documents scan + extraction mapInPandas TWICE — at 100 TB
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


def bbox_square_json(x0: float, y0: float, x1: float, y1: float) -> str:
    """Serialized 1-polygon multipolygon of a bbox rectangle (repr
    round-trips exactly, so parsing it yields the same doubles). Shared
    with the g03/g20 oracle-fixture generator."""
    return serialize_multipolygon(
        [[[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]]
    )


def pair_rows(pair_run, s_json, c_json, ops) -> list:
    """One pair's kernel payloads, one per op: (op, result_json, n_polys,
    xmin, ymin, xmax, ymax, status). A NULL operand makes no kernel call;
    its rows carry the op and NULL everywhere else."""
    if s_json is None or c_json is None:
        return [(op,) + (None,) * 7 for op in ops]
    return pair_run(s_json, c_json, ops)


def _to_list(col: pa.Array) -> list:
    """`col.to_pylist()`, NULLs included, through NumPy: several times
    faster for strings and ~20x for doubles on pyarrow 16."""
    values = col.to_numpy(zero_copy_only=False).tolist()
    if col.null_count:
        for i in np.flatnonzero(col.is_null().to_numpy(zero_copy_only=False)):
            values[i] = None
    return values


def kernel_map(
    df: DataFrame,
    subject: str,
    clipping: str | Sequence[Column],
    ops: Sequence[str],
    carry: Sequence[str] = (),
) -> DataFrame:
    """The kernel stage: run `ops` on every (subject, clipping) row of `df`
    over Arrow batches (mapInArrow) and emit one row per (input row, op):
    the `carry` columns, then KERNEL_RESULT_SCHEMA.

    `subject` names a GeoJSON column. `clipping` names a GeoJSON column
    or is four double columns (xmin, ymin, xmax, ymax) of a rectangle,
    computed in the JVM and serialized in the worker with a per-task
    memo (tile squares repeat across rows). A NULL operand (or a NULL
    rectangle bound) makes no kernel call; see `pair_rows`.

    A NaN bbox (empty or limit_exceeded result) reaches Spark as NULL.
    Carried names must not clash with the result columns.
    """
    ops = tuple(ops)
    is_rect = not isinstance(clipping, str)
    operands = [subject] + (list(clipping) if is_rect else [clipping])
    inp = df.select(
        *carry,
        *(
            (F.col(c) if isinstance(c, str) else c).alias(f"_operand{i}")
            for i, c in enumerate(operands)
        ),
    )
    result = StructType.fromDDL(KERNEL_RESULT_SCHEMA)
    schema = StructType([inp.schema[c] for c in carry] + result.fields)
    result_types = [f.type for f in to_arrow_schema(result)]
    n_carry = len(carry)

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # resolved inside the Python worker (after fork): the full-C pair
        # runner when available, the byte-identical Python one otherwise
        pair_run = resolve_pair_runner()
        square = functools.lru_cache(maxsize=1 << 14)(bbox_square_json)
        for batch in it:
            cols = [_to_list(c) for c in batch.columns[n_carry:]]
            clips = (
                [None if None in r else square(*r) for r in zip(*cols[1:])]
                if is_rect
                else cols[1]
            )
            rows = [
                row
                for s_json, c_json in zip(cols[0], clips)
                for row in pair_rows(pair_run, s_json, c_json, ops)
            ]
            take = pa.array(np.repeat(np.arange(batch.num_rows), len(ops)))
            arrays = [batch.column(i).take(take) for i in range(n_carry)]
            # from_pandas: a NaN bbox (empty result) becomes NULL
            result_cols = list(zip(*rows)) or [()] * len(result_types)
            arrays += [
                pa.array(col, type=t, from_pandas=True)
                for col, t in zip(result_cols, result_types)
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=schema.names)

    return inp.mapInArrow(batches, schema)


def apply_boolean_ops(
    pairs: DataFrame, ops: Sequence[str] = DEFAULT_OPS, rebalance: bool = True
) -> DataFrame:
    """(case_id, *_url, *_json) pairs -> one result row per (pair, op).

    `rebalance` (default ON) round-robins pairs across the cluster before
    the kernel stage. This is load-bearing: upstream joins of small/
    broadcastable inputs produce NO shuffle, so the pair table inherits the
    file scan's partitioning — a single-file source would silently
    serialize the (CPU-dominant) kernel onto one core. The extra shuffle
    moves only the small pair rows; kernel cost per row dwarfs it.
    """
    if rebalance:
        from .spatial_join import ensure_parallelism

        pairs = ensure_parallelism(pairs)
    return kernel_map(
        pairs, "subject_json", "clipping_json", ops,
        carry=("case_id", "subject_url", "clipping_url"),
    )


def boolean_pipeline(geoms: DataFrame, ops: Sequence[str] = DEFAULT_OPS) -> DataFrame:
    return apply_boolean_ops(pair_candidates(geoms), ops)
