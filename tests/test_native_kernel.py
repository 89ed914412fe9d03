"""Native (C) kernel == pure-Python kernel, bit-for-bit.

The C fast path (kernel/native/martinez.c) must reproduce the Python
reference kernel EXACTLY — same coordinates, same ring order, same start
vertices, same contour/hole structure, same KernelLimitExceeded behavior —
on every reference fixture, both operand orders, all five operations.
The Python kernel is itself pinned coordinate-exact to the reference by
tests/test_kernel_fixtures.py, so transitively the native kernel is too.

Any edit to martinez.c OR to the Python kernel must keep this file green
(it is the tripwire for FP-order drift, heap tie-order drift, and bisect
probe-order drift — see the exactness contract in martinez.c's header).
"""

import ctypes
import os

import pytest

from rust_geo_booleanop_spark.kernel import (
    KernelLimitExceeded,
    boolean_op,
    load_fixture,
)
from rust_geo_booleanop_spark.kernel.native import NATIVE_AVAILABLE
from tests.conftest import REFERENCE_CASES, requires_reference_corpus

if NATIVE_AVAILABLE:
    from rust_geo_booleanop_spark.kernel.native import boolean_op_native

pytestmark = pytest.mark.skipif(
    not NATIVE_AVAILABLE, reason="native kernel unavailable (no gcc?)"
)

OPS = ("intersection", "union", "diff", "xor", "diff_ba")


@requires_reference_corpus
@pytest.mark.parametrize(
    "path", REFERENCE_CASES, ids=[os.path.basename(p)[:-8] for p in REFERENCE_CASES]
)
def test_native_matches_python_on_fixture(path):
    subject, clipping, _ = load_fixture(path)
    for a, b in ((subject, clipping), (clipping, subject)):
        for op in OPS:
            assert boolean_op_native(a, b, op) == boolean_op(a, b, op), (
                f"{os.path.basename(path)} {op} (swapped={a is clipping})"
            )


def test_native_matches_python_on_criterion_cases():
    """The reference's criterion bench shapes (incl. the big asia/
    circles_vs_rects inputs that exercise deep sweeps)."""
    from rust_geo_booleanop_spark.kernel.bench_cases import CRITERION_CASES

    for name, make, op in CRITERION_CASES:
        operands = make()
        if operands is None:
            continue
        s, c = operands
        assert boolean_op_native(s, c, op) == boolean_op(s, c, op), name


def test_native_matches_python_on_corpus_templates():
    """Every synthetic corpus template (the flagship's actual workload)."""
    from rust_geo_booleanop_spark.sources.corpus import (
        CORPUS_SIZE,
        HEAVY_EVERY,
        case_geometry,
    )

    for t in list(range(CORPUS_SIZE)) + [HEAVY_EVERY]:
        s, c = case_geometry(t)
        for op in ("intersection", "union", "diff", "xor"):
            assert boolean_op_native(s, c, op) == boolean_op(s, c, op), (t, op)


def test_native_matches_python_on_wide_status():
    """A staggered stack of 700 slivers inside one box: ~1,400 segments
    cross one sweep position (no corpus template or soak case passes
    48), so both engines' status scans run on a wide status."""
    n = 700
    a = []
    for i in range(n):
        xr = 60.0 + (i * 7919 % 997) / 30.0
        y = float(3 * i)
        a.append([[(0.0, y), (xr, y), (xr, y + 1.0), (0.0, y + 1.0), (0.0, y)]])
    b = [[[(-1.0, -1.0), (101.0, -1.0), (101.0, 3 * n + 1.0),
           (-1.0, 3 * n + 1.0), (-1.0, -1.0)]]]

    got = boolean_op(a, b, "intersection")
    assert len(got) == n
    assert boolean_op_native(a, b, "intersection") == got


def test_native_limit_behavior_matches_python():
    """Degenerate-overlap re-ingestion: both engines must return the same
    result OR both raise KernelLimitExceeded — never hang, never diverge."""
    import random

    def random_triangles(n, seed, span=256.0, size=24.0):
        rng = random.Random(seed)
        polys = []
        for _ in range(n):
            cx = rng.uniform(size, span - size)
            cy = rng.uniform(size, span - size)
            pts = [
                (cx + rng.uniform(-size, size), cy + rng.uniform(-size, size))
                for _ in range(3)
            ]
            pts.append(pts[0])
            polys.append([pts])
        return polys

    for seed in (7, 99, 55555):
        a = random_triangles(8, seed)
        aa = boolean_op(a, a, "union")
        assert boolean_op_native(a, a, "union") == aa
        for op in ("union", "intersection", "diff", "xor"):
            for pair in ((aa, a), (aa, aa)):
                try:
                    py = boolean_op(*pair, op)
                    py_exc = False
                except KernelLimitExceeded:
                    py, py_exc = None, True
                try:
                    nat = boolean_op_native(*pair, op)
                    nat_exc = False
                except KernelLimitExceeded:
                    nat, nat_exc = None, True
                assert py_exc == nat_exc, (seed, op)
                if not py_exc:
                    assert py == nat, (seed, op)


def test_native_trivial_and_empty_paths():
    rect = [[[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0), (0.0, 0.0)]]]
    far = [[[(10.0, 10.0), (11.0, 10.0), (11.0, 11.0), (10.0, 11.0), (10.0, 10.0)]]]
    for op in OPS:
        assert boolean_op_native(rect, far, op) == boolean_op(rect, far, op)
        assert boolean_op_native([], rect, op) == boolean_op([], rect, op)
        assert boolean_op_native(rect, [], op) == boolean_op(rect, [], op)
        assert boolean_op_native([], [], op) == boolean_op([], [], op)


def test_secure_tmp_build_dir_refuses_foreign_dir(tmp_path, monkeypatch):
    # The /tmp fallback must never trust a pre-existing world/group-writable
    # candidate (cache-poisoning: another uid plants a .so at the
    # predictable path). A hostile-mode dir must be bypassed via mkdtemp.
    import rust_geo_booleanop_spark.kernel.native as native_mod

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile

    tempfile.tempdir = None  # force re-read of TMPDIR
    try:
        cand = tmp_path / f"martinez-build-{os.getuid()}"
        cand.mkdir(mode=0o777)
        os.chmod(cand, 0o777)  # bypass umask
        got = native_mod._secure_tmp_build_dir()
        assert got != str(cand)
        assert os.path.dirname(got) == str(tmp_path)
        assert os.stat(got).st_mode & 0o077 == 0
        os.rmdir(got)
        # A clean 0700 self-owned candidate IS reused.
        os.chmod(cand, 0o700)
        assert native_mod._secure_tmp_build_dir() == str(cand)
    finally:
        tempfile.tempdir = None


def test_build_prunes_other_digests(tmp_path, monkeypatch):
    """Publishing a build deletes other source digests' files from the
    package-local `_build` dir, and the fresh build loads; the shared
    per-user tmp dir keeps them."""
    import rust_geo_booleanop_spark.kernel.native as native_mod

    stale = ("libmartinez-0123456789abcdef.so", "libmartinez32-0123456789abcdef.so",
             "martinez-0123456789abcdef.c")
    for build_dir, pruned in ((tmp_path / "_build", True), (tmp_path / "martinez-build-0", False)):
        build_dir.mkdir()
        for name in stale:
            (build_dir / name).write_bytes(b"stale")
        monkeypatch.setattr(native_mod, "_BUILD_DIR", str(build_dir))
        lib = native_mod._load_one(False, ctypes.c_double, native_mod._MartinezResult)
        assert lib is not None
        assert os.path.exists(native_mod._so_path())
        assert [os.path.exists(build_dir / name) for name in stale] == [not pruned] * 3


# ---------------------------------------------------------------------------
# f32-native width (the reference kernel is generic over float width;
# -DMARTINEZ_F32 builds the same C source at binary32)
# ---------------------------------------------------------------------------


def _f32_available():
    if not NATIVE_AVAILABLE:
        return False
    from rust_geo_booleanop_spark.kernel import native as _n

    _n._load_f32()
    return _n.F32_NATIVE_AVAILABLE


f32_mark = pytest.mark.skipif(
    not _f32_available(), reason="native f32 kernel unavailable"
)


def _mp_area(mp):
    tot = 0.0
    for poly in mp:
        for k, ring in enumerate(poly):
            a = 0.0
            for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
                a += x1 * y2 - x2 * y1
            tot += abs(a) / 2.0 * (1 if k == 0 else -1)
    return tot


@f32_mark
@requires_reference_corpus
def test_f32_native_outputs_are_binary32_exact_and_deterministic():
    import numpy as np

    from rust_geo_booleanop_spark.kernel.f32 import boolean_op_f32

    for path in REFERENCE_CASES[:10]:
        subject, clipping, _ = load_fixture(path)
        for op in ("intersection", "union", "diff", "xor"):
            r1 = boolean_op_f32(subject, clipping, op, compute="f32")
            r2 = boolean_op_f32(subject, clipping, op, compute="f32")
            assert r1 == r2, (path, op)  # deterministic
            for poly in r1:
                for ring in poly:
                    for x, y in ring:
                        assert float(np.float32(x)) == x
                        assert float(np.float32(y)) == y


@f32_mark
def test_f32_native_matches_f64_storage_path_on_integer_coords():
    """On integer-coordinate rectangles every sweep intermediate is exactly
    representable at both widths, so the true-f32 sweep and the
    f32-storage/f64-compute path must agree bit-for-bit."""
    from rust_geo_booleanop_spark.kernel.f32 import boolean_op_f32

    s = [[[(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)]]]
    c = [[[(4.0, 4.0), (12.0, 4.0), (12.0, 12.0), (4.0, 12.0), (4.0, 4.0)]]]
    hole = [
        [
            [(0.0, 0.0), (16.0, 0.0), (16.0, 16.0), (0.0, 16.0), (0.0, 0.0)],
            [(4.0, 4.0), (4.0, 12.0), (12.0, 12.0), (12.0, 4.0), (4.0, 4.0)],
        ]
    ]
    for a, b in ((s, c), (hole, c), (s, hole)):
        for op in ("intersection", "union", "diff", "xor", "diff_ba"):
            assert boolean_op_f32(a, b, op, compute="f64") == boolean_op_f32(
                a, b, op, compute="f32"
            ), op


@f32_mark
@requires_reference_corpus
def test_f32_native_area_agreement_on_fixtures():
    """Across the full fixture corpus the two compute widths must agree on
    area within 1e-3 relative — EXCEPT the fatal1/fatal2 adversarial
    near-degenerate fixtures, the exact class where the reference's own
    f32/f64 instantiations diverge (documented in kernel/f32.py)."""
    from rust_geo_booleanop_spark.kernel.f32 import boolean_op_f32

    for path in REFERENCE_CASES:
        name = os.path.basename(path)
        if name.startswith("fatal"):
            continue
        subject, clipping, _ = load_fixture(path)
        for op in ("intersection", "union", "diff", "xor"):
            try:
                a64 = boolean_op_f32(subject, clipping, op, compute="f64")
                a32 = boolean_op_f32(subject, clipping, op, compute="f32")
            except KernelLimitExceeded:
                continue
            if a64 == a32:
                continue
            ref = _mp_area(a64)
            assert abs(_mp_area(a32) - ref) <= 1e-3 * max(ref, 1e-9), (name, op)


def test_differential_soak_sample(soak_slice):
    """A slice of scripts/kernel_soak.py runs in CI: seeded random cases
    weighted toward degenerate classes (integer-snapped collinear
    overlaps, coincident rectilinear boundaries, slivers, 1-ULP nudges),
    python vs native bit-exact + status agreement + simple-operand
    inclusion-exclusion. The full 5000-case / 25000-op-run soak
    (230 agreed-limit-exceeded, 0 divergences) is the round-4 record;
    this pins a deterministic 60-case slice outside that swept range
    (CI must never fail by seed lottery — explore NEW seeds with the
    script directly)."""
    soak_slice("run", 60)


@f32_mark
def test_f32_soak_sample(soak_slice):
    """Deterministic slice of `scripts/kernel_soak.py --f32`: the
    true-binary32 native sweep over the same degenerate-class case
    generator, checked semantically (no Python twin at this width):
    clean status or KernelLimitExceeded, run-to-run determinism,
    binary32-exact output coordinates, and star-vs-star
    inclusion-exclusion at f32 precision. Same seed-lottery rule as the
    f64 slice: CI pins a fixed range; explore NEW seeds via the script."""
    soak_slice("run_f32", 30)
