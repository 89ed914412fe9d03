import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rust_geo_booleanop_spark.kernel.geojson import reference_case_files  # noqa: E402

TESTDATA_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The reference golden suite, or [] with the reason it is missing. Every
# test that needs the golden suite carries `requires_reference_corpus`, so
# it runs wherever the corpus is present. The component goldens in
# test_kernel_units.py read their two inputs from tests/reference_components/.
try:
    REFERENCE_CASES, _corpus_missing = reference_case_files(), ""
except FileNotFoundError as e:
    REFERENCE_CASES, _corpus_missing = [], str(e)

requires_reference_corpus = pytest.mark.skipif(
    bool(_corpus_missing), reason=_corpus_missing
)


@pytest.fixture(scope="session")
def spark():
    from rust_geo_booleanop_spark.plans import get_spark

    spark = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def kernel_soak():
    """The scripts/kernel_soak.py module (its case generator and modes)."""
    spec = importlib.util.spec_from_file_location(
        "kernel_soak", os.path.join(ROOT, "scripts", "kernel_soak.py")
    )
    soak = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(soak)
    return soak


@pytest.fixture(scope="session")
def soak_slice(kernel_soak):
    """soak_slice(mode, n) runs scripts/kernel_soak.py's `mode` (run,
    run_pairs or run_f32) over n seeds from 777001. The range is pinned,
    outside every swept range, so CI never fails by seed lottery; explore
    new seeds with the script's own command line."""
    return lambda mode, n_cases: getattr(kernel_soak, mode)(n_cases=n_cases, seed0=777001)
