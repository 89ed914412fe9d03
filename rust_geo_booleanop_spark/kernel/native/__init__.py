"""Native (C, via ctypes) fast path for the Martinez boolean-op kernel.

`martinez.c` is a bit-exact twin of the pure-Python kernel
(`kernel/booleanop.py` et al.), which stays the semantic reference:
`tests/test_native_kernel.py` asserts native == Python on every reference
fixture, every operation, both operand orders, plus the criterion bench
shapes. Exactness rests on copying the Python FP operation order
(compiled with -ffp-contract=off so no FMA contraction changes results),
replicating CPython heapq's sift comparison sequence (tie pop-order
parity), replicating the sweep-status bisect probe order, and routing the
rare filter-inconclusive orient2d through the same Python Fraction
fallback via a callback.

The library is compiled on first import (gcc, ~1 s) into a content-hashed
cache next to the source, under a lock so 32 concurrently-forked Spark
Python workers build it once. Anything failing (no gcc, sandbox without
exec) degrades to NATIVE_AVAILABLE = False and callers fall back to the
pure-Python kernel — behavior, not just results, stays identical.

One C entry point, `mz_pair_run_batch`, runs whole (subject, clipping)
pairs as GeoJSON in and GeoJSON + bbox + status out, for n rows per
call. Two wrappers share its argument list (`_run_batch`):
`pair_boolean_ops_batch_native` (one Arrow batch in ONE C call — the
Spark kernel stage's hot path) and `pair_boolean_ops_native` (one pair,
a one-row call with no Arrow arrays). The batch entry reads the Arrow
string buffers in place, parses a subject again only when its bytes
differ from the previous row's (tile clips repeat a geometry over
consecutive rows), builds rectangle clippings straight from their four
doubles, and returns the result JSON as one C buffer that Arrow wraps
without a copy. It returns the whole batch or nothing: a batch that
holds a row its parser declines, or that it cannot return (output past
2**31 bytes, out of memory), runs row by row, see
`kernel.pairs.resolve_batch_runner`. `parse_bbox_native` is the
bbox-only parse of the extraction stage.

The Spark operators use this module exactly when `NATIVE_AVAILABLE`
(see `kernel.pairs.resolve_native`).
"""

from __future__ import annotations

import contextlib
import ctypes
import glob
import hashlib
import os
import subprocess
from array import array
from ctypes import (
    CFUNCTYPE,
    POINTER,
    c_double,
    c_int,
    c_int32,
    c_int64,
    c_void_p,
)
from fractions import Fraction
from typing import NamedTuple

from ..booleanop import (
    DIFFERENCE,
    INTERSECTION,
    UNION,
    XOR,
    KernelInvalidInput,
    KernelLimitExceeded,
    _close_ring,
    _normalize_multipolygon,
    _trivial_result,
)

_OP_CODES = {INTERSECTION: 0, UNION: 1, DIFFERENCE: 2, XOR: 3}

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "martinez.c")
def _read_source() -> bytes:
    """Read martinez.c — zip-safe.

    Under `spark-submit --py-files engine.zip` the package is imported
    from a zip, so open(__file__-relative path) fails; importlib.resources
    reads package data from zips and directories alike. Executors then
    compile the shipped C source locally (content-hashed, flock'd) — the
    actual cluster deployment path, no prebuilt .so to distribute."""
    try:
        with open(_SRC, "rb") as f:
            return f.read()
    except OSError:
        from importlib import resources

        return resources.files(__package__).joinpath("martinez.c").read_bytes()


def _secure_tmp_build_dir() -> str:
    """Per-user tmp build dir, hardened against cache poisoning.

    /tmp is world-writable: a predictable shared path would let another
    local user pre-create the directory and plant a libmartinez-<digest>.so
    (the digest is computable from the public C source), which ctypes would
    then CDLL into every Spark worker. Defense: create with mode 0700 and
    refuse any existing candidate that is a symlink, not a directory, group/
    world-writable, or not owned by this uid — falling back to a fresh
    mkdtemp (unguessable name, 0700 by construction) rather than trusting it.
    """
    import stat
    import tempfile

    cand = os.path.join(tempfile.gettempdir(), f"martinez-build-{os.getuid()}")
    try:
        os.mkdir(cand, 0o700)
        return cand
    except FileExistsError:
        st = os.lstat(cand)
        if (
            stat.S_ISDIR(st.st_mode)
            and st.st_uid == os.getuid()
            and not (st.st_mode & (stat.S_IWGRP | stat.S_IWOTH))
        ):
            return cand
    except OSError:
        pass
    return tempfile.mkdtemp(prefix="martinez-build-")


def _build_dir() -> str:
    """Writable build dir: `_build` next to the source when the package
    lives on a real filesystem, else a hardened per-user tmp dir
    (zip/read-only installs)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    cand = os.path.join(pkg_dir, "_build")
    try:
        os.makedirs(cand, exist_ok=True)
        if os.access(cand, os.W_OK):
            return cand
    except OSError:
        pass
    return _secure_tmp_build_dir()


_BUILD_DIR = _build_dir()

NATIVE_AVAILABLE = False
F32_NATIVE_AVAILABLE = False
_LIB = None
_LIB32 = None


def _result_struct(coord_ctype):
    class _MartinezResult(ctypes.Structure):
        _fields_ = [
            ("status", c_int32),
            ("n_contours", c_int32),
            ("total_pts", c_int64),
            ("total_holes", c_int64),
            ("pts", POINTER(coord_ctype)),
            ("contour_np", POINTER(c_int32)),
            ("hole_of", POINTER(c_int32)),
            ("contour_nh", POINTER(c_int32)),
            ("holes", POINTER(c_int32)),
        ]

    return _MartinezResult


_MartinezResult = _result_struct(c_double)
_MartinezResult32 = _result_struct(ctypes.c_float)


_EXACT_SIGN_CFUNC = CFUNCTYPE(
    c_int, c_double, c_double, c_double, c_double, c_double, c_double
)


def _exact_sign(p0x, p0y, p1x, p1y, p2x, p2y):
    # Same exact-rational fallback as predicates.signed_area — doubles are
    # exactly representable as Fractions, so the sign is exact.
    exact = (Fraction(p0x) - Fraction(p2x)) * (Fraction(p1y) - Fraction(p2y)) - (
        Fraction(p0y) - Fraction(p2y)
    ) * (Fraction(p1x) - Fraction(p2x))
    if exact > 0:
        return 1
    if exact < 0:
        return -1
    return 0


# Must stay referenced for the lifetime of the process (ctypes callback).
_EXACT_SIGN_KEEPALIVE = _EXACT_SIGN_CFUNC(_exact_sign)


def _src_digest() -> str:
    return hashlib.sha256(_read_source()).hexdigest()[:16]


def _so_path(f32: bool = False) -> str:
    stem = "libmartinez32" if f32 else "libmartinez"
    return os.path.join(_BUILD_DIR, f"{stem}-{_src_digest()}.so")


def _prune_other_digests() -> None:
    """Delete other source digests' builds and source copies from the
    package-local `_build` dir, whose one source is this martinez.c. Never
    the shared per-user tmp dir: zip installs of other versions share it."""
    if os.path.basename(_BUILD_DIR) != "_build":
        return
    keep = _src_digest()
    for pattern in ("libmartinez-*.so", "libmartinez32-*.so", "martinez-*.c"):
        for path in glob.glob(os.path.join(_BUILD_DIR, pattern)):
            if keep not in os.path.basename(path):
                with contextlib.suppress(OSError):
                    os.remove(path)


def _build(so_path: str, f32: bool = False) -> bool:
    """Compile martinez.c once, under an flock (32 workers import at once).

    -ffp-contract=off is load-bearing: without it GCC may fuse a*b-c*d
    into FMA, changing results by an ulp and breaking fixture exactness.
    No -ffast-math anywhere (IEEE semantics required).
    """
    os.makedirs(_BUILD_DIR, exist_ok=True)
    lock_path = os.path.join(_BUILD_DIR, ".build.lock")
    import fcntl

    with open(lock_path, "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            if os.path.exists(so_path):
                return True
            # materialize the (possibly zip-shipped) source for gcc
            src = _read_source()
            src_path = os.path.join(_BUILD_DIR, f"martinez-{_src_digest()}.c")
            if not os.path.exists(src_path):
                with open(src_path + f".tmp.{os.getpid()}", "wb") as f:
                    f.write(src)
                os.replace(src_path + f".tmp.{os.getpid()}", src_path)
            tmp = so_path + f".tmp.{os.getpid()}"
            cmd = [
                "gcc",
                "-O2",
                "-fPIC",
                "-shared",
                "-ffp-contract=off",
                "-fno-unsafe-math-optimizations",
            ]
            if f32:
                cmd.append("-DMARTINEZ_F32")
            cmd += ["-o", tmp, src_path, "-lm"]
            proc = subprocess.run(cmd, capture_output=True, timeout=120)
            if proc.returncode != 0:
                return False
            os.replace(tmp, so_path)  # atomic publish
            _prune_other_digests()
            return True
        except Exception:
            return False
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def _load_one(f32: bool, coord_ctype, result_struct):
    so = _so_path(f32)
    if not os.path.exists(so) and not _build(so, f32):
        return None
    lib = ctypes.CDLL(so)
    lib.martinez_boolean_op.restype = POINTER(result_struct)
    lib.martinez_boolean_op.argtypes = [
        POINTER(coord_ctype), POINTER(c_int32), c_int32, POINTER(c_int32), c_int32,
        POINTER(coord_ctype), POINTER(c_int32), c_int32, POINTER(c_int32), c_int32,
        c_int32,
    ]
    lib.martinez_free.restype = None
    lib.martinez_free.argtypes = [c_void_p]
    lib.martinez_set_exact_sign.restype = None
    lib.martinez_set_exact_sign.argtypes = [_EXACT_SIGN_CFUNC]
    lib.martinez_set_exact_sign(_EXACT_SIGN_KEEPALIVE)
    if not f32:
        # JSON pair runner (f64 build only)
        lib.mz_pair_run_batch.restype = c_int32
        lib.mz_pair_run_batch.argtypes = [
            c_int64, c_void_p,  # n rows, per-row NULL flags (uint8)
            c_void_p, c_void_p,  # subject int64 offsets, data
            c_void_p, c_void_p,  # clipping int64 offsets (or NULL), data
            c_void_p,  # n x 4 float64 rectangles (or NULL)
            POINTER(c_int32), c_int32, c_int64,  # op codes, n_ops, max bytes
            c_void_p, c_void_p, c_void_p, c_void_p,  # per-slot outs
            POINTER(c_void_p), POINTER(c_int64),  # JSON buffer, parse counts
        ]
        lib.mz_buf_free.restype = None
        lib.mz_buf_free.argtypes = [c_void_p]
        lib.mz_parse_bbox.restype = c_int32
        lib.mz_parse_bbox.argtypes = [ctypes.c_char_p, c_int64, POINTER(c_double)]
        lib.mz_repr_double.restype = c_int32
        lib.mz_repr_double.argtypes = [c_double, ctypes.c_char_p, c_int32]
    return lib


def _load() -> None:
    global _LIB, NATIVE_AVAILABLE
    try:
        _LIB = _load_one(False, c_double, _MartinezResult)
        NATIVE_AVAILABLE = _LIB is not None
    except Exception:
        _LIB = None
        NATIVE_AVAILABLE = False


def _load_f32() -> None:
    """The f32 build is loaded lazily on first f32-native call (most
    deployments never touch the narrow-width surface)."""
    global _LIB32, F32_NATIVE_AVAILABLE
    if _LIB32 is not None:
        return
    try:
        _LIB32 = _load_one(True, ctypes.c_float, _MartinezResult32)
        F32_NATIVE_AVAILABLE = _LIB32 is not None
    except Exception:
        _LIB32 = None
        F32_NATIVE_AVAILABLE = False


_load()


def _flatten(mp, typecode="d", coord_ctype=c_double):
    """Flatten a normalized multipolygon into zero-copy ctypes views.

    array('d')/array('i') append in C and expose the buffer protocol, so
    the ctypes arrays are views, not element-wise copies (the tuple-unpack
    ctypes constructor was ~30% of a small boolean op). The arrays are
    returned too, keeping the buffers alive for the call's duration."""
    coords = array(typecode)
    ring_np = array("i")
    poly_nr = array("i")
    ext = coords.extend
    for poly in mp:
        poly_nr.append(len(poly))
        for ring in poly:
            ring_np.append(len(ring))
            for pt in ring:
                ext(pt)
    n_rings = len(ring_np)
    n_polys = len(poly_nr)
    if not coords:
        coords.append(0.0)  # keep valid non-empty buffers; with n_polys/
    if not ring_np:
        ring_np.append(0)  # n_rings at their true (smaller) counts the C
    if not poly_nr:
        poly_nr.append(0)  # side never reads the padding
    c_coords = (coord_ctype * len(coords)).from_buffer(coords)
    c_ring_np = (c_int32 * len(ring_np)).from_buffer(ring_np)
    c_poly_nr = (c_int32 * len(poly_nr)).from_buffer(poly_nr)
    return c_coords, c_ring_np, n_rings, c_poly_nr, n_polys


def _run_native(lib, typecode, coord_ctype, subject, clipping, operation):
    """Shared call path for the f64 and f32 builds (subject/clipping must
    already be normalized; for f32 also already binary32-quantized)."""
    s_args = _flatten(subject, typecode, coord_ctype)
    c_args = _flatten(clipping, typecode, coord_ctype)
    itemsize = 8 if typecode == "d" else 4

    res_ptr = lib.martinez_boolean_op(*s_args, *c_args, _OP_CODES[operation])
    if not res_ptr:
        raise MemoryError("martinez_boolean_op allocation failure")
    try:
        res = res_ptr.contents
        status = res.status
        if status == 1:  # trivial: disjoint bboxes
            return _trivial_result(subject, clipping, operation)
        if status == 2:
            raise KernelLimitExceeded(
                f"sweep exceeded the processed-event budget (operation={operation})"
            )
        if status == 4:
            raise KernelInvalidInput("segment with a non-finite endpoint")
        if status != 0:
            raise MemoryError("martinez_boolean_op out of memory")

        n = res.n_contours
        contour_np = res.contour_np[:n] if n else []
        hole_of = res.hole_of[:n] if n else []
        contour_nh = res.contour_nh[:n] if n else []
        total_pts = int(res.total_pts)
        # bulk-copy the coordinate buffer once (vs per-element ctypes
        # getitem), then slice-zip per contour
        flat = array(typecode)
        if total_pts:
            flat.frombytes(ctypes.string_at(res.pts, 2 * itemsize * total_pts))
        total_holes = int(res.total_holes)
        holes_flat = res.holes[:total_holes] if total_holes else []

        # Rebuild per-contour point lists (open rings, as the Python
        # kernel's Contour.points) then run the identical assembly tail.
        points = []
        off = 0
        for np_i in contour_np:
            end = off + 2 * np_i
            points.append(list(zip(flat[off:end:2], flat[off + 1 : end : 2])))
            off = end
        hole_ids = []
        hoff = 0
        for nh_i in contour_nh:
            hole_ids.append(holes_flat[hoff : hoff + nh_i])
            hoff += nh_i
    finally:
        lib.martinez_free(ctypes.cast(res_ptr, c_void_p))

    polygons = []
    for i in range(len(points)):
        if hole_of[i] == -1:
            rings = [_close_ring(points[i])]
            for hid in hole_ids[i]:
                rings.append(_close_ring(points[hid]))
            polygons.append(rings)
    return polygons


def _check_op(subject, clipping, operation):
    if operation == "diff_ba":
        return clipping, subject, DIFFERENCE
    if operation not in (INTERSECTION, UNION, DIFFERENCE, XOR):
        raise ValueError(f"unknown operation: {operation!r}")
    return subject, clipping, operation


def boolean_op_native(subject, clipping, operation):
    """Drop-in replacement for kernel.boolean_op backed by the C sweep.

    Same inputs, outputs, and exceptions (KernelLimitExceeded on the
    degenerate-overlap pathology, KernelInvalidInput on a segment with a
    NaN or infinite endpoint). Fixture-exact vs the Python kernel —
    see tests/test_native_kernel.py.
    """
    subject, clipping, operation = _check_op(subject, clipping, operation)
    if _LIB is None:  # pragma: no cover - guarded by NATIVE_AVAILABLE
        raise RuntimeError("native kernel not available")
    subject = _normalize_multipolygon(subject)
    clipping = _normalize_multipolygon(clipping)
    return _run_native(_LIB, "d", c_double, subject, clipping, operation)


def boolean_op_f32_native(subject, clipping, operation):
    """True f32-native boolean operation: every FP operation of the sweep
    rounds to binary32, like the reference kernel's f32 instantiation
    (lib/src/boolean/helper.rs:8-10) — unlike kernel.f32.boolean_op_f32's
    default f32-storage/f64-compute path. Inputs are binary32-quantized on
    the way in; all output coordinates are exact binary32 values (returned
    as Python floats). The exact-orientation fallback stays
    arbitrary-precision (f32 values are exact doubles are exact Fractions).
    """
    subject, clipping, operation = _check_op(subject, clipping, operation)
    _load_f32()
    if _LIB32 is None:
        raise RuntimeError("native f32 kernel not available")
    from ..f32 import quantize_multipolygon_f32

    subject = _normalize_multipolygon(quantize_multipolygon_f32(subject))
    clipping = _normalize_multipolygon(quantize_multipolygon_f32(clipping))
    return _run_native(_LIB32, "f", ctypes.c_float, subject, clipping, operation)


# ---------------------------------------------------------------------------
# JSON pair runner: the whole (parse once, one sweep shared by the ops,
# serialize) pair lifecycle in C, where the Python composition sweeps
# once per op. Byte-identical to the Python marshalling by construction
# (the C side calls CPython's own PyOS_string_to_double /
# PyOS_double_to_string — the same functions json.loads / json.dumps use
# on number tokens and floats); pinned by tests/test_native_pairs.py.
# ---------------------------------------------------------------------------

PAIR_OP_CODES = {
    "intersection": 0,
    "union": 1,
    "diff": 2,
    "xor": 3,
    "diff_ba": 4,
}

_MZ_LIMIT = 2
_MZ_UNSUPPORTED = 4
# result_json carries int32 Arrow offsets: a batch whose JSON would pass
# this many bytes is returned as None and reruns row by row.
_MAX_BATCH_BYTES = 2**31 - 1


class _CBuffer:
    """Owns one buffer malloc'd by mz_pair_run_batch and frees it when
    the last reference to it dies (for a batch: the Arrow buffer that
    wraps it, as the `base` of pa.foreign_buffer)."""

    __slots__ = ("ptr", "_free")

    def __init__(self, ptr):
        self.ptr = ptr
        self._free = _LIB.mz_buf_free

    def __del__(self):
        self._free(self.ptr)


def _run_batch(n, null, s_offsets, s_data, c_offsets, c_data, rects, ops):
    """The one call of mz_pair_run_batch: all `ops` of n rows. The
    operand arguments are addresses or buffers (see martinez.c); a None
    `c_offsets` means `rects` holds n x 4 rectangle doubles.

    Returns ctypes arrays (a one-row call reads them without NumPy), per
    (row, op) slot: the JSON offsets int32[n*k + 1], n_polys int32[n*k],
    bbox float64[n*k*4] and status int8[n*k] (0 ok, 2 limit_exceeded),
    then the `_CBuffer` of the JSON and the (subject, clipping) parse
    counts. Raises ValueError on an unknown op; returns None when the
    call returns nothing (a declined row, output past
    `_MAX_BATCH_BYTES`, out of memory).
    """
    if _LIB is None:  # pragma: no cover - guarded by NATIVE_AVAILABLE
        raise RuntimeError("native kernel not available")
    for op in ops:
        if op not in PAIR_OP_CODES:
            raise ValueError(f"unknown operation: {op!r}")
    k = len(ops)
    m = n * k
    outs = (
        (c_int32 * (m + 1))(), (c_int32 * m)(), (c_double * (4 * m))(),
        (ctypes.c_int8 * m)(),
    )
    codes = (c_int32 * max(k, 1))(*(PAIR_OP_CODES[op] for op in ops))
    json_ptr = c_void_p()
    parses = (c_int64 * 2)()
    st = _LIB.mz_pair_run_batch(
        n, null, s_offsets, s_data, c_offsets, c_data, rects,
        codes, k, _MAX_BATCH_BYTES, *outs, ctypes.byref(json_ptr), parses,
    )
    if st != 0:
        return None
    return (*outs, _CBuffer(json_ptr.value), tuple(parses))


def pair_boolean_ops_native(s_json: str, c_json: str, ops):
    """All `ops` of one (subject, clipping) pair through the C fast path.

    Returns a list of (op, result_json, n_polys, xmin, ymin, xmax, ymax,
    status) tuples — the per-row payload operators/boolean_join.py emits —
    or None when the C parser declines the input (malformed, or an exotic
    spelling, see martinez.c) or the call cannot return it (output past
    2**31 bytes, out of memory), in which case the caller must run the
    Python marshalling path (identical bytes; everything the C parser
    accepts meets the validity rule of kernel/geojson.py, which decides
    the rest).
    """
    sb = s_json.encode("utf-8")
    cb = c_json.encode("utf-8")
    out = _run_batch(
        1, b"\0",
        (c_int64 * 2)(0, len(sb)), sb,
        (c_int64 * 2)(0, len(cb)), cb,
        None, ops,
    )
    if out is None:
        return None
    offsets, n_polys, bbox, status, json, _ = out
    text = ctypes.string_at(json.ptr, offsets[len(ops)]).decode("ascii")
    return [
        (
            op,
            text[offsets[i] : offsets[i + 1]],
            n_polys[i],
            *bbox[4 * i : 4 * i + 4],
            "limit_exceeded" if status[i] == _MZ_LIMIT else "ok",
        )
        for i, op in enumerate(ops)
    ]


class BatchResult(NamedTuple):
    columns: list  # the eight payload columns, len(ops) rows per input row
    parses: tuple  # (subject, clipping) parse counts


def _string_operand(col):
    """(int64 value offsets from the slice offset on, data address) of an
    Arrow string or large_string column."""
    import numpy as np
    import pyarrow as pa

    if pa.types.is_large_string(col.type):
        width = np.int64
    elif pa.types.is_string(col.type):
        width = np.int32
    else:
        raise TypeError(f"GeoJSON operand must be a string column, got {col.type}")
    if not len(col):  # an empty column may carry no offsets buffer at all
        return np.zeros(1, np.int64), None
    _, offsets, data = col.buffers()
    offsets = np.frombuffer(offsets, width, col.offset + len(col) + 1)[col.offset :]
    return offsets.astype(np.int64), (data.address if data is not None else None)


def pair_boolean_ops_batch_native(subject, clipping, ops):
    """All `ops` of every row of one Arrow batch in ONE C call
    (mz_pair_run_batch): a subject is parsed once per run of equal
    consecutive rows, a rectangle clipping is built from its four doubles.

    `subject` is an Arrow string (or large_string) column of GeoJSON;
    `clipping` is another, or four float64 columns (xmin, ymin, xmax,
    ymax) of a rectangle. Returns a BatchResult whose `columns` equal
    `pairs.payload_columns` over `pair_rows(resolve_pair_runner(), ...)`;
    a NULL operand gives the op and NULLs. Raises ValueError on an
    unknown op. Returns None — run the batch row by row — when the C
    parser declines a row (see `pair_boolean_ops_native`) or a
    rectangle bound is not finite, for an output past `_MAX_BATCH_BYTES`
    and on an allocation failure.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n, k = len(subject), len(ops)
    is_rect = not isinstance(clipping, pa.Array)
    null = subject.is_null()
    for col in clipping if is_rect else (clipping,):
        null = pc.or_(null, col.is_null())
    null = np.ascontiguousarray(null.to_numpy(zero_copy_only=False), np.uint8)
    s_offsets, s_data = _string_operand(subject)
    if is_rect:
        rects = np.ascontiguousarray(
            np.column_stack([c.to_numpy(zero_copy_only=False) for c in clipping]),
            np.float64,
        ).reshape(n, 4)
        c_offsets = c_data = None
        rects_ptr = rects.ctypes.data
    else:
        c_offsets, c_data = _string_operand(clipping)
        rects_ptr = None
    # the arrays behind these addresses stay bound to locals for the call
    out = _run_batch(
        n, null.ctypes.data, s_offsets.ctypes.data, s_data,
        None if c_offsets is None else c_offsets.ctypes.data, c_data,
        rects_ptr, ops,
    )
    if out is None:
        return None
    m = n * k
    offsets, n_polys, bbox, status, json, parses = out
    offsets = np.frombuffer(offsets, np.int32)
    bbox = np.frombuffer(bbox, np.float64).reshape(m, 4)
    json_data = pa.foreign_buffer(json.ptr, int(offsets[-1]), base=json)
    ran = np.repeat(null == 0, k)
    n_null = m - int(np.count_nonzero(ran))
    validity = pa.py_buffer(np.packbits(ran, bitorder="little")) if n_null else None
    not_ran = ~ran
    columns = [
        pa.array(list(ops), pa.string()).take(np.tile(np.arange(k), n)),
        pa.StringArray.from_buffers(m, pa.py_buffer(offsets), json_data, validity, n_null),
        pa.array(np.frombuffer(n_polys, np.int32), pa.int32(), mask=not_ran),
        *(pa.array(bbox[:, j], pa.float64(), from_pandas=True) for j in range(4)),
        # indexed by the C status code: MZ_OK 0, MZ_LIMIT 2
        pa.array(["ok", None, "limit_exceeded"]).take(
            pa.array(np.frombuffer(status, np.int8), mask=not_ran)
        ),
    ]
    return BatchResult(columns, parses)


def parse_bbox_native(geom_json: str):
    """(xmin, ymin, xmax, ymax) of a GeoJSON geometry string, or None when
    the C parser declines (caller falls back to parse_multipolygon +
    multipolygon_bbox). Empty geometry gives (inf, inf, -inf, -inf) like
    multipolygon_bbox."""
    if _LIB is None:  # pragma: no cover - guarded by NATIVE_AVAILABLE
        raise RuntimeError("native kernel not available")
    gb = geom_json.encode("utf-8")
    out = (c_double * 4)()
    st = _LIB.mz_parse_bbox(gb, len(gb), out)
    if st == _MZ_UNSUPPORTED:
        return None
    if st != 0:
        raise MemoryError("mz_parse_bbox allocation failure")
    return out[0], out[1], out[2], out[3]


def repr_double_native(v: float) -> str:
    """Diagnostic: the C side's byte rendering of one double (must equal
    repr(v) — it IS PyOS_double_to_string). Test hook only."""
    if _LIB is None:  # pragma: no cover - guarded by NATIVE_AVAILABLE
        raise RuntimeError("native kernel not available")
    buf = ctypes.create_string_buffer(64)
    n = _LIB.mz_repr_double(v, buf, 64)
    if n < 0:
        raise RuntimeError("mz_repr_double failed")
    return buf.raw[:n].decode("ascii")


__all__ = [
    "NATIVE_AVAILABLE",
    "F32_NATIVE_AVAILABLE",
    "boolean_op_native",
    "boolean_op_f32_native",
    "pair_boolean_ops_native",
    "pair_boolean_ops_batch_native",
    "BatchResult",
    "parse_bbox_native",
    "repr_double_native",
    "PAIR_OP_CODES",
]
