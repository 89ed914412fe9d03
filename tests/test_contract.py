"""Driver-contract shape: queries()/oracle_sql() stay consistent."""

import re

import __spark_entry__ as entry


def test_oracle_keys_subset_of_queries():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert set(oracles) <= set(qs), sorted(set(oracles) - set(qs))


def test_query_names_and_callables():
    import inspect

    qs = entry.queries()
    assert len(qs) >= 50
    for name, fn in qs.items():
        assert re.fullmatch(r"[a-z][a-z0-9_]+", name), name
        assert fn is getattr(entry, f"_{name}"), name
        assert list(inspect.signature(fn).parameters) == ["spark", "sf_dir"], name


def test_every_query_is_oracle_backed():
    """EVERY queries() entry has a value-hash oracle (zero rows-only),
    and the driver's ~50-entry grading budget goes to queries that were
    NEVER driver-graded: anything past position 50 must already be
    hash-green in a committed driver artifact (CORRECTNESS_r*.json), so
    at most 50 entries can lack one."""
    import glob
    import json
    import os

    qs = list(entry.queries())
    oracles = list(entry.oracle_sql())
    assert qs == oracles, sorted(set(qs) ^ set(oracles))
    assert {"st01_stream_window_counts", "g33_salted_boolean_pipeline",
            "g36_ring_winding_audit", "h25_daily_new_users",
            "r43_grouped_concat", "m11_media_size_stats"} <= set(qs[:50])
    repo = os.path.join(os.path.dirname(__file__), "..")
    green = set()
    for artifact in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        rec = json.load(open(artifact))
        green |= {k for k, v in rec.items() if v.get("hash_match")}
    # the budget invariant: a query may fall past the cut ONLY if its
    # hash-green driver row is already committed in a past CORRECTNESS
    cut = set(qs[50:])
    assert cut <= green, sorted(cut - green)
    assert len(set(qs) - green) <= 50, sorted(set(qs) - green)
    assert entry.SF001_ONLY_ORACLES <= set(qs)


def test_oracle_fixture_paths_are_in_the_checkout():
    """Every fixture an oracle reads exists and lies under the directory
    of the __spark_entry__ module that served it, so a copy of the repo
    grades its Spark output against its own fixtures."""
    import os

    root = os.path.dirname(os.path.abspath(entry.__file__))
    paths = {
        p
        for sql in entry.oracle_sql().values()
        for p in re.findall(r"read_parquet\('([^']+)'\)", sql)
    }
    assert paths
    for p in paths:
        assert os.path.commonpath([root, os.path.abspath(p)]) == root, p
        assert os.path.exists(p), p


def test_oracle_sql_is_nonempty_select():
    for name, sql in entry.oracle_sql().items():
        s = sql.strip().upper()
        assert s.startswith(("SELECT", "WITH")), name


def test_entry_is_callable():
    assert callable(entry.entry)


def _value_hash(rows, columns):
    """Same order-insensitive hash as scripts/check_oracles.py."""
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(repr(row[i]) for row in [r] for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def test_zero_vector_oracle_parity(spark, tmp_path):
    """A degenerate embedding must NOT diverge the similarity oracles:
    Spark's _cosine maps zero-norm AND non-finite similarities to NULL
    (similarity.py) and the DuckDB oracles carry the same CASE guard
    (_cos_sql) — without it DuckDB's list_cosine_similarity yields NaN,
    which sorts FIRST under DESC and passes no threshold the same way
    (and Spark's non-IEEE NaN > 0.0 = TRUE defeats the denom guard
    alone). Injects an all-zero vector (vec_id 1 query / 11 corpus), a
    NaN-component vector (2 / 12), an inf-component vector (3 / 13),
    and a large-finite ~1e30-component vector (4 / 14 — DuckDB's
    FLOAT[] accumulation would overflow to inf where Spark's double
    fold stays finite, hence the DOUBLE[] cast in _cos_sql) and
    requires the full value-hash to still match for s01/s04/s05."""
    import duckdb
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        if i in (1, 11):
            vec = [0.0] * 64
        elif i in (2, 12):
            vec = [float(x) for x in rng.standard_normal(64).astype("float32")]
            vec[7] = float("nan")
        elif i in (3, 13):
            vec = [float(x) for x in rng.standard_normal(64).astype("float32")]
            vec[5] = float("inf")
        elif i in (4, 14):
            vec = [float(x) for x in rng.standard_normal(64).astype("float32")]
            vec[9] = 1e30
        else:
            vec = [float(x) for x in rng.standard_normal(64).astype("float32")]
        rows.append((i, vec, i % 5))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    path = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM parquet_scan('{path}/*.parquet')")
    oracles = entry.oracle_sql()
    qs = entry.queries()
    for name in ("s01_cosine_topk", "s04_ivf_topk", "s05_neardup_exact"):
        sdf = qs[name](spark, str(tmp_path))
        cols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        assert sorted(cols) == sorted(ocols), name
        assert len(srows) == len(orows), (name, len(srows), len(orows))
        assert _value_hash(srows, cols) == _value_hash(orows, ocols), name
