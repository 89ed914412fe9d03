"""Dissolve: distributed union of many geometries per key.

The reference kernel unions TWO multipolygons (lib/src/boolean/mod.rs:43-45);
dissolve extends that to N geometries per key as a two-level distributed
aggregate — the treeAggregate shape:

  level 1: rows are salted into `fanin` buckets per key; each bucket folds
           its geometries into one partial union (applyInPandas group);
  level 2: the <= fanin partials per key fold into the final union.

Both levels run the SAME fixture-exact kernel union: each fold step is one
call of the pair runner (kernel/pairs.py), the contract every operator
reaches the sweep through. A key with millions of geometries never funnels
them into one task — level 1 bounds any single fold to its bucket, and only
`fanin` partials reach level 2. (For deeper skew, recurse level 1; two
levels cover 10^9 rows/key at fanin 2^15.)

Degenerate-overlap caveat: re-unioning union OUTPUTS can hit the Martinez
degenerate-overlap pathology (the reference's deactivated issue90 class).
The kernel's termination valve ends such a sweep, and the pair runner gives
it status 'limit_exceeded'; the group degrades to one such row instead of
hanging an executor. A NULL geometry, or one the validity rule of
kernel/geojson.py rejects (a Point, null, truncated JSON, a NaN or
infinite coordinate), degrades its group the same way, with status
'invalid_input', at the level-1 fold that meets it. Clean inputs
(disjoint or simply-overlapping coverages, e.g. rectangle tilings)
dissolve exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.geojson import parse_multipolygon, serialize_multipolygon
from ..kernel.pairs import resolve_pair_runner

_PARTIAL_SCHEMA = "key string, geom_json string, status string"
DISSOLVE_SCHEMA = "key string, geom_json string, n_polys int, status string"


def _fold_union(jsons) -> tuple[str, int, str]:
    """(geom_json, n_polys, status) of the union of `jsons`, folded left
    through the pair runner. The first geometry makes no kernel call, so
    it gives ("", 0, "invalid_input") here if the validity rule of
    kernel/geojson.py rejects it, as the pair runner would; the first
    non-ok union ends the fold with ("", 0, its status)."""
    union = resolve_pair_runner()  # full-C pair lifecycle when available
    first, *rest = jsons
    try:
        mp = parse_multipolygon(first)
    except ValueError:
        return "", 0, "invalid_input"
    acc, n = serialize_multipolygon(mp), len(mp)
    for gj in rest:
        ((_, acc, n, *_, status),) = union(acc, gj, ("union",))
        if status != "ok":
            return "", 0, status
    return acc, n, "ok"


def _partial_fn(key, pdf):
    jsons = pdf["geom_json"]
    # a NULL geometry degrades its key like the JSON literal null (and
    # sorted() cannot order it among strings)
    if jsons.isna().any():
        gj, status = "", "invalid_input"
    else:
        gj, _, status = _fold_union(sorted(jsons))
    return pd.DataFrame({"key": [key[0]], "geom_json": [gj], "status": [status]})


def _final_fn(key, pdf):
    (k,) = key
    failed = sorted(set(pdf["status"]) - {"ok"})
    if failed:
        gj, n, status = "", 0, failed[0]
    else:
        gj, n, status = _fold_union(sorted(pdf["geom_json"]))
    return pd.DataFrame({"key": [k], "geom_json": [gj], "n_polys": [n], "status": [status]})


def dissolve(
    geoms: DataFrame,
    key_col: str = "key",
    geom_col: str = "geom_json",
    order_col: str | None = None,
    fanin: int = 16,
) -> DataFrame:
    """Union all geometries of each key into one multipolygon.

    Determinism: rows are salted into level-1 buckets by the hash of
    `order_col` (defaults to the geometry string), so bucket MEMBERSHIP is
    a pure function of row content, independent of partitioning. WITHIN a
    bucket the fold always runs in sorted-geom_json order (not order_col —
    that column only drives the salt and is dropped before the fold), and
    level 2 folds partials in sorted-JSON order — same result every run
    regardless of partitioning.

    Skew caveat: the content-hash default means DUPLICATE geometry
    strings all land in one salt bucket — a key with millions of
    byte-identical (or low-cardinality templated) geometries still
    funnels into one level-1 task. Pass a (near-)unique `order_col`
    (a row id) for such corpora; a nondeterministic salt is NOT used as
    the default because bucket membership must stay a pure function of
    row content for run-to-run bit-identical output.
    """
    ordering = F.col(order_col) if order_col else F.col(geom_col)
    prepared = geoms.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(geom_col).alias("geom_json"),
        F.pmod(F.xxhash64(ordering.cast("string")), F.lit(fanin)).alias("salt"),
    )
    # level 1: one applyInPandas group per (key, salt) bucket — each fold is
    # bounded to its bucket and sees a sorted, partitioning-independent row
    # order (deterministic output geometry)
    partials = prepared.groupBy("key", "salt").applyInPandas(
        _partial_fn, schema=_PARTIAL_SCHEMA
    )
    # level 2: <= fanin partials per key
    return partials.groupBy("key").applyInPandas(_final_fn, schema=DISSOLVE_SCHEMA)
