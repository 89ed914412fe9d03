"""Local stand-in for the driver's correctness gate.

Runs every queries() entry at sf0.01 via Spark AND its oracle_sql() via
DuckDB, compares row count, column names, and an order-insensitive value
hash. At any sf_dir other than sf0.01 the SF001_ONLY_ORACLES entries get a
rows-only check (their fixtures are whole-corpus sf0.01 snapshots).

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(repr(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def normalize(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None)
    return v


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from rust_geo_booleanop_spark.plans import get_spark

    spark = get_spark(app_name="oracle-check")  # local[SPARK_GRAFT_CPUS or cores]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.01":
        # whole-corpus snapshot fixtures only exist at the gate's sf
        for name in entrymod.SF001_ONLY_ORACLES:  # downgrade
            oracles.pop(name, None)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(normalize(v) for v in r) for r in df.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR {e}"))
            print(f"{name:28s} SPARK ERROR: {e}")
            continue
        dt = time.time() - t0

        if name not in oracles:
            print(f"{name:28s} rows-only: {len(rows):7d} rows  {dt:5.1f}s")
            if len(rows) == 0:
                failures.append((name, "0 rows (rows-only check)"))
            continue

        try:
            res = con.execute(oracles[name])
            o_cols = [d[0] for d in res.description]
            o_rows = [tuple(normalize(v) for v in r) for r in res.fetchall()]
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR {e}"))
            print(f"{name:28s} DUCKDB ERROR: {e}")
            continue

        problems = []
        if len(rows) != len(o_rows):
            problems.append(f"rowcount {len(rows)} != {len(o_rows)}")
        if sorted(c.lower() for c in cols) != sorted(c.lower() for c in o_cols):
            problems.append(f"columns {sorted(cols)} != {sorted(o_cols)}")
        if not problems:
            h1 = value_hash(rows, [c.lower() for c in cols])
            h2 = value_hash(o_rows, [c.lower() for c in o_cols])
            if h1 != h2:
                problems.append(f"value hash {h1} != {h2}")
                # show a sample diff
                s1 = set(map(repr, rows))
                s2 = set(map(repr, o_rows))
                extra = list(s1 - s2)[:2]
                missing = list(s2 - s1)[:2]
                if extra:
                    problems.append(f"spark-only sample: {extra}")
                if missing:
                    problems.append(f"oracle-only sample: {missing}")
        status = "OK" if not problems else "MISMATCH " + "; ".join(problems)
        print(f"{name:28s} {len(rows):7d} rows  {dt:5.1f}s  {status}")
        if problems:
            failures.append((name, problems))

    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for name, p in failures:
            print(" -", name, p)
        sys.exit(1)
    print("all checks passed")
    spark.stop()


if __name__ == "__main__":
    main()
