"""Regenerate the s06 IVF-kmeans snapshot oracle fixture.

Snapshot-oracle pattern (weakest oracle class, labeled as such in the
query docstring): the k-means fold is iterative with no SQL
re-expression, but it is DESIGNED to be partitioning-independent
deterministic (pinned tie-breaks; a pytest asserts determinism). The
committed snapshot pins the exact output, and the driver's DuckDB
comparison re-verifies that a fresh session — different master, shuffle
partitioning, and executor layout than this generator used — reproduces
it value-for-value.

(g11 dissolve graduated to the python-kernel generated class in
scripts/gen_geo_oracle_fixtures.py: its fixture is now a FLAT sorted
union fold, an independent fold structure from the operator's salted
buckets.)

The fixture is sf0.01-specific (the correctness gate's scale factor),
like d02's: the output is a whole-corpus aggregate, not per-row.

Run after any change to operators/similarity.py (kmeans/IVF). Usage:
    python scripts/gen_snapshot_oracle_fixtures.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXDIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracle_fixtures"
)
SF_DIR = "/root/testdata/sf0.01"


def main():
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from rust_geo_booleanop_spark.plans import get_spark

    # Deliberately NOT the gate's config (local[N]/2N shuffle partitions):
    # a different topology here makes the gate comparison a real
    # cross-partitioning determinism check, not a same-config replay.
    spark = get_spark(
        app_name="snapshot-oracles", master="local[4]", shuffle_partitions=7
    )
    qs = entrymod.queries()

    s06 = qs["s06_ivf_kmeans"](spark, SF_DIR).collect()
    pq.write_table(
        pa.table(
            {
                "query_id": pa.array([r.query_id for r in s06], pa.int64()),
                "vec_id": pa.array([r.vec_id for r in s06], pa.int64()),
                "sim_rank": pa.array([r.sim_rank for r in s06], pa.int32()),
            }
        ),
        os.path.join(FIXDIR, "s06_ivf_kmeans_sf001.parquet"),
        compression="zstd",
    )
    print(f"s06: {len(s06)} rows -> {FIXDIR}")
    spark.stop()


if __name__ == "__main__":
    main()
