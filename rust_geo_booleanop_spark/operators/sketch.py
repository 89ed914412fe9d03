"""Distributed sketch operators.

Two-pass exact heavy hitters (the classic scalable pattern):

  pass 1  per-partition Misra-Gries summaries (bounded memory: k counters
          per partition, one `mapInPandas` — no shuffle). Guarantee: MG
          with capacity k underestimates a value's partition count by at
          most n_p / k, so any value with GLOBAL count > n / k survives
          in at least one partition's summary — the candidate set is a
          superset of the true heavy hitters.
  pass 2  exact counts of the (small) candidate set only: semi-join the
          data against the broadcast candidates, one hash aggregation.

The result is EXACT (value, count) rows for every value with
count >= threshold_frac * n — unlike a one-pass sketch there is no
approximation in the output, only in the intermediate candidate set, so
the operator is value-hash-checkable against a plain GROUP BY oracle
while never hash-aggregating the full distinct-value space.
"""

from __future__ import annotations

import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_merge_batch(counters: dict, batch_counts, k: int) -> dict:
    """Merge one batch's exact value->count map into an MG summary of
    capacity k (mergeable-summaries MG merge, Agarwal et al., PODS'12):
    add the counts, then if over capacity subtract the (k+1)-st largest
    count from everything and drop the non-positive keys.

    Every decrement of m removes >= m*(k+1) total weight, so the summed
    underestimate per key stays <= n_p/(k+1) < n_p/k — the sequential MG
    bound, hence the same candidate-superset guarantee. The per-row Python
    loop of the sequential form becomes a vectorized value_counts plus a
    Python loop over DISTINCT values per batch only."""
    for v, c in batch_counts.items():
        counters[v] = counters.get(v, 0) + int(c)
    if len(counters) > k:
        m = sorted(counters.values(), reverse=True)[k]
        counters = {v: c - m for v, c in counters.items() if c > m}
    return counters


def heavy_hitters(
    df: DataFrame, col: str, threshold_frac: float = 0.01
) -> DataFrame:
    """Exact (value, n) rows for values occurring in >= threshold_frac of
    rows. Bounded memory at every stage; only candidates are counted
    exactly, so the full distinct-value space is never aggregated.

    NULL carries no value identity and is excluded — like COUNT(col) —
    BY CONSTRUCTION on every path: pandas value_counts drops NaN/None in
    the MG partial stage, and the left-semi equi-join never matches a
    NULL candidate, so a NULL "heavy hitter" row cannot be emitted.
    The fraction denominator is the FULL row count incl. NULL rows.
    An oracle for this operator must carry the same `col IS NOT NULL`
    filter."""
    if not (0.0 < threshold_frac <= 1.0):
        raise ValueError("threshold_frac must be in (0, 1]")
    k = max(2, math.ceil(1.0 / threshold_frac))

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One MG summary per TASK (all batches of a partition share it).
        # Arrow batches (~10k rows) are buffered to ~512k values and
        # counted in ONE vectorized value_counts per flush, so the
        # Python-level merge loop touches only the distinct values of a
        # half-million-row window (~16x faster than the sequential
        # per-row MG on a 5k-distinct zipf corpus; same superset
        # guarantee, see _mg_merge_batch). Memory stays bounded:
        # k counters + <=512k buffered scalars, independent of partition
        # size.
        counters: dict = {}
        buf: list = []
        buffered = 0

        def flush():
            nonlocal counters, buf, buffered
            if buf:
                vc = pd.concat(buf, ignore_index=True).value_counts()
                counters = _mg_merge_batch(counters, vc, k)
                buf, buffered = [], 0

        for pdf in batches:
            buf.append(pdf[col])
            buffered += len(pdf)
            if buffered >= 512_000:
                flush()
        flush()
        yield pd.DataFrame({col: list(counters.keys())})

    field = df.schema[col]
    candidates = (
        df.select(col)
        .mapInPandas(partials, schema=f"{col} {field.dataType.simpleString()}")
        .distinct()
    )
    n_total = df.select(F.count("*").alias("n_total"))
    counted = (
        df.join(F.broadcast(candidates), on=col, how="left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("n"))
    )
    return (
        counted.crossJoin(F.broadcast(n_total))
        .filter(F.col("n") >= F.col("n_total") * F.lit(threshold_frac))
        .select(col, "n")
    )


def hll_sketch(
    docs: DataFrame, text_col: str = "text", p: int = 8
) -> DataFrame:
    """HyperLogLog register sketch of the corpus token vocabulary —
    the mergeable distinct-count structure (Flajolet et al. 2007) a
    100 TB pipeline keeps per shard/day and ORs together instead of
    re-scanning history for "how many distinct tokens/urls so far".

    Output: one row per OCCUPIED register, (register, max_rank) —
    register = the first p/4 hex chars of md5(token) (string key: never
    converted to int, so Spark and any SQL engine group identically),
    max_rank = max over tokens of (leading zero bits of the next 64
    hash bits) + 1. Rank extraction is EXACT string/integer arithmetic:
    leading zero HEX digits via an anchored regexp strip, plus a 4-way
    CASE on the first nonzero hex digit — never floating point, never a
    log, so the sketch is value-hash reproducible across engines
    (the h06 conv/bin pattern). Estimate via `hll_estimate` below.

    Tokenization is the divergence-proof lower+whitespace split shared
    with d03/d09/h03/h04.

    100 TB shape: token explode is map-side; the register agg is a
    map-side-partial MAX over at most 2^p groups — constant-size
    shuffle no matter the corpus size; sketches from disjoint corpus
    slices merge by another MAX. Engine requirement; no reference
    counterpart (the reference computes no sketches).
    """
    return (
        hll_register_ranks(docs, text_col=text_col, p=p)
        .groupBy("register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_register_ranks(docs: DataFrame, text_col: str = "text", p: int = 8) -> DataFrame:
    """The stateless (register, rank) projection `hll_sketch` aggregates —
    exposed so the streaming twin (`streaming.extraction.stream_hll_sketch`)
    can apply the identical expressions to an unbounded relation and let
    Structured Streaming keep the per-register MAX as its (bounded,
    <= 2^p rows) state."""
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError(f"p must be a multiple of 4 in [4, 16], got {p}")
    tk = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    h = F.md5(F.col("w"))
    reg = F.substring(h, 1, p // 4)
    # 64 rank bits = the next 16 hex chars; strip leading zero hex digits
    z = F.substring(h, p // 4 + 1, 16)
    nz = F.regexp_replace(z, "^0*", "")
    lead_hex = F.lit(16) - F.length(nz)
    first = F.substring(nz, 1, 1)
    extra = (
        F.when(first == "1", F.lit(3))
        .when(first.isin("2", "3"), F.lit(2))
        .when(first.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )
    rank = (
        F.when(F.length(nz) == 0, F.lit(65))  # all 64 bits zero
        .otherwise(F.lit(4) * lead_hex + extra + F.lit(1))
        .cast("int")
    )
    return docs.select(F.explode(tk).alias("w")).select(
        reg.alias("register"), rank.alias("rank")
    )


def hll_estimate(sketch_rows, p: int = 8) -> float:
    """Driver-side HLL cardinality estimate from (register, max_rank)
    rows (the output of `hll_sketch` collected — at most 2^p rows by
    construction, so the collect is bounded). Standard-error ~1.04 /
    sqrt(2^p) (~6.5 % at p=8); linear-counting small-range correction
    per the original paper. Deterministic: the harmonic sum folds in
    sorted register order."""
    import math as _math

    m = 1 << p
    ranks = {r[0]: r[1] for r in sketch_rows}
    s = 0.0
    for reg in sorted(ranks):
        s += 2.0 ** (-ranks[reg])
    n_zero = m - len(ranks)
    s += float(n_zero)  # absent registers: 2^-0
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = alpha * m * m / s
    if est <= 2.5 * m and n_zero > 0:
        return m * _math.log(m / n_zero)
    return est


def cm_sketch(
    docs: DataFrame, text_col: str = "text", depth: int = 4
) -> DataFrame:
    """Count-min sketch of the corpus token frequencies (Cormode &
    Muthukrishnan 2005) — the mergeable frequency structure that pairs
    with the HLL distinct sketch: per (hash row, bucket) cell, the total
    occurrences of every token mapping there. Point estimate = MIN over
    rows of the queried token's cell (`cm_estimate`), always an
    OVERestimate of the true count.

    Hashing is the h07 discipline: bucket = the first 3 hex chars of
    md5('<row>:' || token) kept AS A STRING (4096 buckets per row, never
    converted to int), counts are integer sums — the whole sketch is
    exact integer/string arithmetic, value-hash reproducible in any SQL
    engine.

    Output: (row_id, bucket, cnt) for occupied cells only.

    100 TB shape: token explode is map-side; the cell agg is a map-side-
    partial SUM over at most depth * 4096 groups — constant-size shuffle
    regardless of corpus size; sketches of disjoint slices merge by
    adding cells. Engine requirement; no reference counterpart.
    """
    if not 1 <= depth <= 16:
        raise ValueError(f"depth must be in [1, 16], got {depth}")
    tk = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    rows = F.explode(
        F.array(*[F.lit(r) for r in range(depth)])
    ).alias("row_id")
    bucket = F.substring(
        F.md5(F.concat(F.col("row_id").cast("string"), F.lit(":"), F.col("w"))),
        1,
        3,
    )
    return (
        docs.select(F.explode(tk).alias("w"))
        .select("w", rows)
        .select(F.col("row_id").cast("int").alias("row_id"), bucket.alias("bucket"))
        .groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_estimate(sketch_rows, token: str, depth: int = 4) -> int:
    """Driver-side count-min point estimate for one token from collected
    (row_id, bucket, cnt) rows: MIN over hash rows of the token's cell
    (0 when a cell is unoccupied). Guaranteed >= the true count."""
    import hashlib

    cells = {(r[0], r[1]): r[2] for r in sketch_rows}
    best = None
    for r in range(depth):
        b = hashlib.md5(f"{r}:{token}".encode()).hexdigest()[:3]
        c = cells.get((r, b), 0)
        best = c if best is None else min(best, c)
    return int(best or 0)
