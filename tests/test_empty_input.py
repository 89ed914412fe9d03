"""Empty-input safety battery for the whole driver contract.

At 100 TB, empty relations are routine mid-plan — a selective filter,
partition pruning, or a skew-salted bucket with no survivors all
produce 0-row inputs for downstream operators. A query that crashes on
a 0-row table (driver-side ``collect()`` unpacks, pandas-UDF dtype
inference on empty batches, divisions by aggregate counts) would crash
in production the first time a date filter matches nothing. This
battery runs EVERY ``queries()`` entry against a
schema-faithful 0-row copy of the driver tables and requires a
well-formed (usually empty, for global aggregates a single all-NULL /
zero-count) result — never an exception.
"""

import os

import pytest

import __spark_entry__ as entry
from tests.conftest import TESTDATA_SF, requires_reference_corpus

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

ALL_QUERIES = entry.queries()

# g09 reads the reference golden suite, not the driver tables
QUERY_PARAMS = [
    pytest.param(name, marks=requires_reference_corpus)
    if name == "g09_fixture_suite"
    else name
    for name in sorted(ALL_QUERIES)
]


@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """A directory shaped exactly like a driver sf dir, every table with
    its real parquet schema (taken from sf0.001) and zero rows."""
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        src = os.path.join(TESTDATA_SF, f"{t}.parquet")
        (
            spark.read.parquet(src)
            .limit(0)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(d / f"{t}.parquet"))
        )
    return str(d)


@pytest.mark.parametrize("name", QUERY_PARAMS)
def test_query_is_empty_safe(spark, empty_sf, name):
    df = ALL_QUERIES[name](spark, empty_sf)
    # a well-formed result: named columns and a countable relation
    assert df.columns
    assert df.count() >= 0


@pytest.fixture(scope="module")
def tiny_sf(spark, tmp_path_factory):
    """One row per table: the degenerate-statistics corpus (variance 0,
    a single user/group/bucket everywhere). Flushes out ANSI
    divide-by-zero in correlation/ratio queries that only a constant
    column can trigger."""
    d = tmp_path_factory.mktemp("tiny_sf")
    for t in TABLES:
        src = os.path.join(TESTDATA_SF, f"{t}.parquet")
        (
            spark.read.parquet(src)
            .limit(1)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(d / f"{t}.parquet"))
        )
    return str(d)


@pytest.mark.parametrize("name", QUERY_PARAMS)
def test_query_is_single_row_safe(spark, tiny_sf, name):
    df = ALL_QUERIES[name](spark, tiny_sf)
    assert df.columns
    assert df.count() >= 0
