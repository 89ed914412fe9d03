"""End-to-end golden-file suite: the reference's 45 GeoJSON fixtures.

Mirrors tests/src/generic_test_cases.rs:45-122 — every annotated op must
match the expected MultiPolygon coordinate-for-coordinate, and symmetric
ops are re-run with swapped operands (unless swap_ab_is_broken).
Skipped when the reference corpus is not present.
"""

import os

import pytest

from rust_geo_booleanop_spark.kernel import boolean_op, load_fixture
from tests.conftest import REFERENCE_CASES, requires_reference_corpus


@requires_reference_corpus
@pytest.mark.parametrize(
    "path", REFERENCE_CASES, ids=[os.path.basename(p) for p in REFERENCE_CASES]
)
def test_fixture_exact(path):
    subject, clipping, expected = load_fixture(path)
    assert expected, f"{path} has no expected results"
    for op, exp, swap_broken in expected:
        result = boolean_op(subject, clipping, op)
        assert result == exp, f"{os.path.basename(path)} / {op} / main deviates"
        if op not in ("diff", "diff_ba") and not swap_broken:
            swapped = boolean_op(clipping, subject, op)
            assert swapped == exp, f"{os.path.basename(path)} / {op} / swapped deviates"
