"""C JSON pair runner == Python marshalling path, byte-for-byte.

The full-C pair lifecycle (kernel/native/martinez.c "JSON pair runner"
section: parse once -> one sweep shared by the ops -> serialize in C)
must reproduce the Python composition
(kernel/pairs.pair_boolean_ops_python, one sweep per op) EXACTLY — same
result_json BYTES, same n_polys/bbox/status — on every reference fixture,
both operand orders, all five operations and every subset of them, plus
the corpus generator and an adversarial edge battery. Byte identity is by
construction (the C side calls CPython's own PyOS_string_to_double /
PyOS_double_to_string via dlsym); this file is the tripwire for that
construction.

The C parser takes every geometry the one validity rule of
kernel/geojson.py accepts, save a few exotic spellings, and must DECLINE
(return None) those and every malformed input, so the wrapper falls back
to the Python path, where the rule decides them. The grammar table below
is the spec: valid spellings the C parser runs, valid spellings it
declines (the same bytes on every path of both engines) and invalid
spellings ('invalid_input' rows on every path).

The C side has one pair entry, `mz_pair_run_batch`: the per-pair
runner is a one-row call of it, and the batch wrapper
(`pair_boolean_ops_batch_native`, one C call per Arrow batch with a
last-row operand cache and rectangle operands) must give, row by row,
what the per-row runner gives through `pair_rows`. It returns the whole
batch or nothing: a batch holding a declined row runs row by row; a NaN
or infinite coordinate gives status 'invalid_input' on every path.
"""

import itertools
import json
import math
import random
import struct

import pyarrow as pa
import pytest

from rust_geo_booleanop_spark.kernel import KernelInvalidInput, boolean_op
from rust_geo_booleanop_spark.kernel.geojson import (
    multipolygon_bbox,
    parse_multipolygon,
    reference_case_files,
    serialize_multipolygon,
)
from rust_geo_booleanop_spark.kernel.native import NATIVE_AVAILABLE
from rust_geo_booleanop_spark.kernel.pairs import (
    bbox_square_json,
    pair_boolean_ops_python,
    pair_rows,
    payload_columns,
    resolve_batch_runner,
    resolve_bbox_fn,
    resolve_pair_runner,
)
from tests.conftest import requires_reference_corpus

if NATIVE_AVAILABLE:
    from rust_geo_booleanop_spark.kernel import native
    from rust_geo_booleanop_spark.kernel.native import (
        pair_boolean_ops_batch_native,
        pair_boolean_ops_native,
        parse_bbox_native,
        repr_double_native,
    )

pytestmark = pytest.mark.skipif(
    not NATIVE_AVAILABLE, reason="native kernel unavailable (no gcc?)"
)

OPS = ("intersection", "union", "diff", "xor", "diff_ba")

SQUARE = '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]]}'


def _rows_equal(py_rows, nat_rows):
    assert len(py_rows) == len(nat_rows)
    for rp, rn in zip(py_rows, nat_rows):
        assert rp[0] == rn[0]  # op
        assert rp[1] == rn[1]  # result_json, byte-for-byte
        assert rp[2] == rn[2]  # n_polys
        for x, y in zip(rp[3:7], rn[3:7]):  # bbox (NaN-aware)
            if isinstance(x, float) and math.isnan(x):
                assert isinstance(y, float) and math.isnan(y)
            else:
                assert x == y
        assert rp[7] == rn[7]  # status


def _assert_pair_parity(s_json, c_json, ops=OPS):
    nat = pair_boolean_ops_native(s_json, c_json, ops)
    assert nat is not None, "native pair runner declined a supported input"
    _rows_equal(pair_boolean_ops_python(s_json, c_json, ops), nat)


def test_repr_battery_matches_python_repr():
    """The C float rendering must be repr(v) bytes. It IS
    PyOS_double_to_string by construction; this guards the flag/mode
    constants and the dlsym plumbing."""
    vals = [
        0.0, -0.0, 1.0, -1.0, 0.1, 2 / 3, 1 / 3, 1e15, 1e16, -1e16,
        9999999999999998.0, 1e-4, 1e-5, -1e-5, 5e-324, -5e-324,
        1.7976931348623157e308, 2.2250738585072014e-308, 123456.789, -0.07,
        256.0, 0.5, -2.5, 3.141592653589793,
        # integral values: the digits + ".0" path below 1e16
        2.0**53, -(2.0**53), -9999999999999998.0, -1e15, 2.0, -2.0,
    ]
    rng = random.Random(20260818)
    while len(vals) < 20000:
        v = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        if math.isnan(v) or math.isinf(v):
            continue
        vals.append(v)
    while len(vals) < 30000:  # integral doubles of every magnitude below 1e16
        v = float(rng.randrange(10 ** rng.randint(1, 16))) * rng.choice((1, -1))
        if abs(v) < 1e16:
            vals.append(v)
    for v in vals:
        assert repr_double_native(v) == repr(v), v.hex()


@requires_reference_corpus
def test_all_fixtures_both_orders_all_ops():
    for fx in reference_case_files():
        with open(fx) as f:
            fc = json.load(f)
        feats = fc["features"]
        s_json = json.dumps(feats[0]["geometry"], separators=(",", ":"))
        c_json = json.dumps(feats[1]["geometry"], separators=(",", ":"))
        _assert_pair_parity(s_json, c_json)
        _assert_pair_parity(c_json, s_json)


# --- one sweep for several ops ---------------------------------------------


def _op_subsets():
    """Every non-empty subset of OPS, in given and in reversed order."""
    for r in range(1, len(OPS) + 1):
        for ops in itertools.combinations(OPS, r):
            yield ops
            if r > 1:
                yield ops[::-1]


def _assert_subset_parity(s_json, c_json):
    """The C runner sweeps a pair once for all of intersection, union,
    diff and xor it is asked for: every subset of the ops, in either
    order, must give the rows of the one-sweep-per-op Python composition
    (computed once per pair and op)."""
    want = dict(zip(OPS, pair_boolean_ops_python(s_json, c_json, OPS)))
    for ops in _op_subsets():
        nat = pair_boolean_ops_native(s_json, c_json, ops)
        assert nat is not None, "native pair runner declined a supported input"
        _rows_equal([want[op] for op in ops], nat)


def test_corpus_generator_pairs():
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    for t in range(80):  # case 61 is the heavy template
        s, c = case_geometry(t)
        _assert_subset_parity(serialize_multipolygon(s), serialize_multipolygon(c))


# A long subject strip and a second subject polygon crossing it far right
# of a narrow clipping: the crossing divides segments that intersection's
# snapshot already sorted. Swapped, the narrow operand is the subject and
# diff takes a snapshot too, at the same event as intersection.
WIDE_SUBJECT = json.dumps({"type": "MultiPolygon", "coordinates": [
    [[[0, 0], [100, 1], [100, 3], [0, 2], [0, 0]]],
    [[[50, -5], [52, -5], [52, 10], [50, 10], [50, -5]]],
]})
NARROW_CLIP = '{"type":"Polygon","coordinates":[[[10,-1],[20,-1],[20,5],[10,5],[10,-1]]]}'
# Two clipping triangles sharing their left endpoint and a collinear edge:
# the sweep reads their contour ids, which diff numbers alike, and diff
# over union's numbering would give another result, so diff sweeps alone.
TIED_SUBJECT = '{"type":"Polygon","coordinates":[[[1,-1],[3,-1],[3,1],[1,1],[1,-1]]]}'
TIED_CLIP = json.dumps({"type": "MultiPolygon", "coordinates": [
    [[[0, 0], [4, 0], [2, 3], [0, 0]]],
    [[[0, 0], [4, 0], [2, -3], [0, 0]]],
]})
# A multi-polygon clipping without such a tie.
UNTIED_CLIP = json.dumps({"type": "MultiPolygon", "coordinates": [
    [[[5, 0], [15, 0], [15, 3], [5, 3], [5, 0]]],
    [[[25, 0], [35, 1], [30, 4], [25, 0]]],
]})


def test_shared_sweep_every_op_subset(kernel_soak):
    """Every op subset over the pairs above, both operand orders, and
    soak case 90509, which fails when an op's connect_edges starts from
    the output contour ids the previous op left behind."""
    soak_s, soak_c, _ = kernel_soak.make_case(90509)
    for s_json, c_json in (
        (WIDE_SUBJECT, NARROW_CLIP), (TIED_SUBJECT, TIED_CLIP),
        (NARROW_CLIP, UNTIED_CLIP), (WIDE_SUBJECT, UNTIED_CLIP),
        (serialize_multipolygon(soak_s), serialize_multipolygon(soak_c)),
    ):
        _assert_subset_parity(s_json, c_json)
        _assert_subset_parity(c_json, s_json)


def test_edge_inputs_supported():
    cases = [
        # disjoint (trivial short-circuit, all four trivial shapes)
        '{"type":"Polygon","coordinates":[[[5,5],[6,5],[6,6],[5,6],[5,5]]]}',
        # empty geometries (both kinds of empty)
        '{"type":"MultiPolygon","coordinates":[]}',
        '{"type":"Polygon","coordinates":[]}',
        # unclosed ring (parser must close like geojson._close)
        '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2]]]}',
        # altitude members ignored like _close taking p[0:2]
        '{"type":"Polygon","coordinates":[[[0,0,99],[2,0,98],[2,2,1],[0,2,5],[0,0,99]]]}',
        # whitespace tolerance
        '{ "type" : "Polygon" , "coordinates" : '
        "[ [ [0 , 0] , [2,0] , [2,2] , [0,2] , [0,0] ] ] }",
        # "-0" int token is +0.0 (json int semantics); sci notation
        '{"type":"Polygon","coordinates":[[[-0,0],[2,-0.0],[2e0,2E0],[0,2.5e-1],[-0,0]]]}',
        # reference-fixture key order: coordinates before type
        '{"coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]],"type":"Polygon"}',
        # identical operands (degenerate overlaps everywhere)
        SQUARE,
        # self-intersecting bowtie vs itself
        '{"type":"Polygon","coordinates":[[[0,0],[4,4],[4,0],[0,4],[0,0]]]}',
    ]
    for geom in cases:
        _assert_pair_parity(geom, SQUARE)
        _assert_pair_parity(SQUARE, geom)


def test_unsupported_inputs_decline_to_python_path():
    bad = [
        '{"type":"Point","coordinates":[0,0]}',
        '{"type":"Polygon","coordinates":[[[1e999,0],[2,0],[2,2]]]}',  # non-finite
        '{"type":"Polygon","coordinates":[[[null,0],[2,0],[2,2]]]}',
        '{"type":"Polygon"}',
        "[1,2,3]",
        "",
    ]
    for geom in bad:
        assert pair_boolean_ops_native(geom, SQUARE, OPS) is None
        assert pair_boolean_ops_native(SQUARE, geom, OPS) is None
    runner = resolve_pair_runner()
    assert runner is not pair_boolean_ops_python
    _rows_equal(
        pair_boolean_ops_python(SQUARE, SQUARE, OPS), runner(SQUARE, SQUARE, OPS)
    )
    # the native runner must fall back (not fail) on inputs the C parser
    # declines; the validity rule turns garbage into status rows
    empty = serialize_multipolygon([])
    assert _arrow_rows(runner("not json", SQUARE, OPS)) == [
        (op, empty, 0, None, None, None, None, "invalid_input") for op in OPS
    ]
    assert resolve_bbox_fn()(SQUARE) == (0.0, 0.0, 2.0, 2.0)


# --- one validity rule (kernel/geojson.py) in both engines ------------------

_RING = "[[0,0],[2,0],[2,2],[0,2],[0,0]]"
_BIG_INT = "1" + "0" * 299  # a 300-digit integer, finite as a double
_MAX_INT = "1" + "0" * 308  # a 309-digit integer, 1e308, still finite
_OTHER_SHAPES = ("big_integer", "max_integer")  # not the square


def _square_with(member):
    """The square with one more member."""
    return '{"type":"Polygon","coordinates":[%s],%s}' % (_RING, member)


# valid spellings the C parser runs: no decline on any path
VALID_C_GRAMMAR = {
    "type_first": '{"type":"Polygon","coordinates":[%s]}' % _RING,
    "coordinates_first": '{"coordinates":[%s],"type":"Polygon"}' % _RING,
    "whitespace": '{ "type" :\n"Polygon" ,\t"coordinates" : [ [ [0, 0] ,[2,0],'
                  '[2,2] , [0,2],[0,0] ] ] }',
    "altitude": '{"type":"Polygon","coordinates":[[[0,0,7],[2,0,7.5],[2,2,-1],[0,2,0],[0,0,7]]]}',
    "big_integer": '{"type":"Polygon","coordinates":[[[0,0],[%s,0],[2,2],[0,2],[0,0]]]}' % _BIG_INT,
    "max_integer": '{"type":"Polygon","coordinates":[[[0,0],[%s,0],[2,2],[0,2],[0,0]]]}' % _MAX_INT,
    "bbox_member": _square_with('"bbox":[0,0,2,2]'),
    "infinite_bbox": _square_with('"bbox":[0,-1e999,2,1e999]'),
    "nan_in_a_string": _square_with('"name":"NaN Ridge"'),
    "properties": _square_with(
        r'"properties":{"tags":[[1,-2.5e-3,[0]],[]],"note":"a\"b\\c\/d\b\f\n\r\t\u00e9",'
        r'"yes":true,"no":false,"none":null,"empty":{}," ":"é☃"}'
    ),
    "crs": '{"crs":{"type":"name","properties":{"name":"EPSG:4326"}},'
           '"type":"Polygon","coordinates":[%s]}' % _RING,
    "lone_surrogate": _square_with(r'"name":"\ud800"'),
    "unclosed_ring": '{"type":"MultiPolygon","coordinates":[[[[0,0],[2,0],[2,2],[0,2]]]]}',
}
# valid spellings the C parser declines: the Python parse decides them
VALID_DECLINED_GRAMMAR = {
    "escaped_type": r'{"type":"Poly\u0067on","coordinates":[%s]}' % _RING,
    "escaped_member_name": r'{"\u0074ype":"Polygon","coordinates":[%s]}' % _RING,
    "repeated_coordinates": '{"type":"Polygon","coordinates":[[[5,5],[6,5],[6,6]]],'
                            '"coordinates":[%s]}' % _RING,
    "string_altitude": '{"type":"Polygon","coordinates":[[[0,0,"a"],[2,0],[2,2],[0,2],[0,0]]]}',
    "null_altitude": '{"type":"Polygon","coordinates":[[[0,0,null],[2,0],[2,2],[0,2],[0,0]]]}',
    "infinite_altitude": '{"type":"Polygon","coordinates":[[[0,0,1e999],[2,0],[2,2],[0,2],[0,0]]]}',
    "long_integer_member": _square_with('"n":%s' % ("1" * 700)),
    "deep_member": _square_with('"x":' + "[" * 100 + "]" * 100),
}
_DEEP = 200_000
INVALID_GRAMMAR = {
    "point": '{"type":"Point","coordinates":[0,0]}',
    "null": "null",
    "truncated": '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,',
    "wrong_nesting": '{"type":"Polygon","coordinates":[[0,0],[2,0],[2,2],[0,0]]}',
    "nan_token": '{"type":"Polygon","coordinates":[[[NaN,0],[2,0],[2,2],[NaN,0]]]}',
    "nan_token_in_bbox": _square_with('"bbox":[NaN,0,2,2]'),
    "infinity_token": '{"type":"Polygon","coordinates":[[[0,0],[Infinity,0],[2,2],[0,0]]]}',
    "overflowing_float": '{"type":"Polygon","coordinates":[[[0,0],[1e999,0],[2,2],[0,0]]]}',
    "overflowing_integer": '{"type":"Polygon","coordinates":[[[0,0],[%s,0],[2,2],[0,0]]]}'
                           % ("1" * 400),
    "nan_string": '{"type":"Polygon","coordinates":[[["nan",0],[2,0],[2,2],["nan",0]]]}',
    "number_string": '{"type":"Polygon","coordinates":[[["2",0],[2,0],[2,2],["2",0]]]}',
    "boolean": '{"type":"Polygon","coordinates":[[[true,0],[2,0],[2,2],[true,0]]]}',
    "deep_nesting": '{"type":"Polygon","coordinates":%s}' % ("[" * _DEEP + "]" * _DEEP),
    "retyped_point": _square_with('"type":"Point"'),
    "raw_tab_in_a_string": _square_with('"name":"a\tb"'),
    "trailing_comma": _square_with('"bbox":[0,0,2,2,]'),
    "bad_escape": _square_with(r'"name":"a\xb"'),
    "unterminated_string": _square_with('"name":"abc}'),
    "leading_zero": _square_with('"n":01'),
    # past sys.get_int_max_str_digits(): json.loads refuses it
    "overlong_integer_member": _square_with('"n":%s' % ("1" * 5000)),
    "deep_member": _square_with('"x":' + "[" * _DEEP + "]" * _DEEP),
}
_RECT = [pa.array([v], pa.float64()) for v in (0.5, 0.5, 3.0, 3.0)]


def _grammar_engines(monkeypatch):
    """(engine, pair runner, batch runner, bbox fn) with the C kernel
    loaded and without it."""
    engines = [("native", resolve_pair_runner(), resolve_batch_runner(), resolve_bbox_fn())]
    monkeypatch.setattr(native, "NATIVE_AVAILABLE", False)
    engines.append(("python", resolve_pair_runner(), resolve_batch_runner(), resolve_bbox_fn()))
    monkeypatch.undo()
    return engines


def _variant_rows(pair_run, batch_run, geom, ops=OPS):
    """The variant as subject and as clipping of SQUARE, per pair and as
    a batch (string and rectangle clippings), as Arrow-boundary rows."""
    per_pair = _arrow_rows(pair_run(geom, SQUARE, ops) + pair_run(SQUARE, geom, ops))
    batches = [
        batch_run(pa.array([geom, SQUARE]), pa.array([SQUARE, geom]), ops),
        batch_run(pa.array([geom]), _RECT, ops),
    ]
    batch = [row for cols in batches for row in zip(*(c.to_pylist() for c in cols))]
    return per_pair, batch


def test_grammar_table_c_parser_runs_or_declines_as_listed():
    """Each spelling of VALID_C_GRAMMAR stays in C on every path (the pair
    runner, the batch entry and the bbox parse decline none); each one of
    VALID_DECLINED_GRAMMAR is declined to the Python parse."""
    for name, geom in VALID_C_GRAMMAR.items():
        assert pair_boolean_ops_native(geom, SQUARE, OPS) is not None, name
        assert pair_boolean_ops_native(SQUARE, geom, OPS) is not None, name
        assert pair_boolean_ops_batch_native(
            pa.array([geom, SQUARE]), pa.array([SQUARE, geom]), OPS
        ) is not None, name
        assert pair_boolean_ops_batch_native(pa.array([geom]), _RECT, OPS) is not None, name
        assert parse_bbox_native(geom) is not None, name
    for name, geom in VALID_DECLINED_GRAMMAR.items():
        assert pair_boolean_ops_native(geom, SQUARE, OPS) is None, name
        assert parse_bbox_native(geom) is None, name


def test_grammar_table_valid_variants_match_across_engines(monkeypatch):
    """Each valid spelling, run in C or declined, gives the same bytes on
    every path of both engines as the plain type-first square (save the
    other shapes)."""
    engines = _grammar_engines(monkeypatch)
    want = _variant_rows(*engines[0][1:3], VALID_C_GRAMMAR["type_first"])
    for name, geom in {**VALID_C_GRAMMAR, **VALID_DECLINED_GRAMMAR}.items():
        got = {}
        for engine, pair_run, batch_run, bbox_fn in engines:
            got[engine] = _variant_rows(pair_run, batch_run, geom)
            assert got[engine][0] == _arrow_rows(
                pair_boolean_ops_python(geom, SQUARE, OPS)
                + pair_boolean_ops_python(SQUARE, geom, OPS)
            ), (name, engine)
            assert all(r[7] == "ok" for rows in got[engine] for r in rows), (name, engine)
            assert bbox_fn(geom) == multipolygon_bbox(parse_multipolygon(geom)), name
        assert got["native"] == got["python"], name
        if name not in _OTHER_SHAPES:
            assert got["native"] == want, name


def test_grammar_table_invalid_variants_give_status_rows(monkeypatch):
    """Each variant the validity rule rejects gives one invalid_input row
    per op on every path of both engines, and a ValueError from the
    extraction bbox parse; only an unknown op still raises."""
    empty = serialize_multipolygon([])
    bad_rows = [(op, empty, 0, None, None, None, None, "invalid_input") for op in OPS]
    engines = _grammar_engines(monkeypatch)
    for name, geom in INVALID_GRAMMAR.items():
        assert _arrow_rows(pair_boolean_ops_python(geom, SQUARE, OPS)) == bad_rows, name
        for engine, pair_run, batch_run, bbox_fn in engines:
            per_pair, batch = _variant_rows(pair_run, batch_run, geom)
            assert per_pair == 2 * bad_rows, (name, engine)
            assert batch == 3 * bad_rows, (name, engine)
            with pytest.raises(ValueError):
                bbox_fn(geom)
            with pytest.raises(ValueError, match="unknown operation"):
                pair_run(geom, SQUARE, ("union", "frobnicate"))


def test_limit_exceeded_rows_match():
    """Degenerate-overlap re-ingestion (the reference's deactivated
    issue90 pathology): per-op rows — including status='limit_exceeded'
    ones — must match the Python path exactly."""

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

    saw_limit = False
    # seed 44's twice-re-ingested union trips the event budget on every op
    for seed in (7, 44, 99, 55555):
        a = random_triangles(10, seed)
        aa = boolean_op(a, a, "union")
        aaa = boolean_op(aa, aa, "union")
        a_j = serialize_multipolygon(a)
        aa_j = serialize_multipolygon(aa)
        aaa_j = serialize_multipolygon(aaa)
        for pair in ((aa_j, a_j), (aa_j, aa_j), (aaa_j, aa_j), (aaa_j, aaa_j)):
            py = pair_boolean_ops_python(*pair, ("intersection", "union", "diff", "xor"))
            nat = pair_boolean_ops_native(*pair, ("intersection", "union", "diff", "xor"))
            assert nat is not None
            _rows_equal(py, nat)
            saw_limit = saw_limit or any(r[7] == "limit_exceeded" for r in py)
    # the battery must actually exercise the limit path at least once;
    # if kernel budgets change enough that it never trips, grow the corpus
    assert saw_limit


def test_parse_bbox_native_parity():
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    corpus = [serialize_multipolygon(mp) for t in range(80) for mp in case_geometry(t)]
    assert corpus
    for gj in [SQUARE] + corpus:
        assert parse_bbox_native(gj) == multipolygon_bbox(parse_multipolygon(gj))
    # empty geometry: multipolygon_bbox's (inf, inf, -inf, -inf)
    assert parse_bbox_native('{"type":"MultiPolygon","coordinates":[]}') == (
        float("inf"), float("inf"), float("-inf"), float("-inf"),
    )
    # unsupported input declines (None), never raises
    assert parse_bbox_native('{"type":"Point","coordinates":[0,0]}') is None


def test_unknown_op_raises_like_python():
    with pytest.raises(ValueError, match="unknown operation"):
        pair_boolean_ops_native(SQUARE, SQUARE, ("intersection", "frobnicate"))
    col = pa.array([SQUARE])
    with pytest.raises(ValueError, match="unknown operation"):
        pair_boolean_ops_batch_native(col, col, ("frobnicate",))
    with pytest.raises(ValueError, match="unknown operation"):
        resolve_batch_runner()(col, col, ("intersection", "frobnicate"))


def test_pair_runner_differential_soak_sample(soak_slice):
    """Deterministic slice of `scripts/kernel_soak.py --pairs`: random
    degenerate-weighted cases through BOTH pair runners (GeoJSON in,
    GeoJSON + bbox + status rows out), byte-exact row agreement
    (NaN-aware on empty-result bboxes). Round-4 full record: 3000 cases
    / 15000 op-rows byte-exact, 0 divergences. New seeds via the
    script's command line."""
    soak_slice("run_pairs", 40)


# --- batch entry: one C call per Arrow batch -------------------------------

SHIFTED = '{"type":"Polygon","coordinates":[[[1,1],[3,1],[3,2.5],[1,3],[1,1]]]}'
# same length as SQUARE, different bytes: a length check alone must miss
SQUARE3 = '{"type":"Polygon","coordinates":[[[0,0],[3,0],[3,3],[0,3],[0,0]]]}'
HOLED = (
    '{"type":"MultiPolygon","coordinates":[[[[-1,-1],[4,-1],[4,4],[-1,4],[-1,-1]],'
    "[[0.5,0.5],[1.5,0.5],[1.5,1.5],[0.5,1.5],[0.5,0.5]]]]}"
)
# a member besides type and coordinates: the C parser runs it
BBOX_KEYED = (
    '{"type":"Polygon","coordinates":[[[0,0],[2,0],[2,2],[0,2],[0,0]]],'
    '"bbox":[0,0,2,2]}'
)


def _arrow_rows(rows):
    """Payload rows as they leave the Arrow boundary: NaN bbox -> None."""
    return [
        tuple(None if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in rows
    ]


def _check_batch(subjects, clips, rects=None, ops=OPS, whole=True,
                 subject_col=None, clip_cols=None):
    """Run one batch through the C entry and the batch runner with and
    without the C kernel; compare each, row by row, with `pair_rows` over
    the per-row runner. Unless `whole`, the batch holds a row the C entry
    declines, and it must return nothing."""
    run = resolve_pair_runner()
    s_col = subject_col if subject_col is not None else pa.array(subjects, pa.string())
    if rects is None:
        c_arg = clip_cols if clip_cols is not None else pa.array(clips, pa.string())
    else:
        c_arg = clip_cols or [pa.array(list(b), pa.float64()) for b in zip(*rects)]
        clips = [None if None in r else bbox_square_json(*r) for r in rects]
    out = pair_boolean_ops_batch_native(s_col, c_arg, ops)
    assert (out is not None) == whole
    if whole:
        got = list(zip(*(c.to_pylist() for c in out.columns)))
        assert len(got) == len(subjects) * len(ops)
        k = len(ops)
        for i, (s_json, c_json) in enumerate(zip(subjects, clips)):
            rows = got[i * k : (i + 1) * k]
            assert rows == _arrow_rows(pair_rows(run, s_json, c_json, ops)), i
    ref = [r for s_json, c_json in zip(subjects, clips) for r in pair_rows(run, s_json, c_json, ops)]
    want = payload_columns(ref)
    runners = {"native": resolve_batch_runner()}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(native, "NATIVE_AVAILABLE", False)
        runners["python"] = resolve_batch_runner()
    for engine, run_batch in runners.items():
        for got_col, want_col in zip(run_batch(s_col, c_arg, ops), want):
            assert got_col.equals(want_col), engine
    return out


def test_batch_json_operands_cache_nulls_and_decline():
    subjects = [
        SQUARE, SQUARE, SQUARE,  # one parse for a run of equal subjects
        SHIFTED, SQUARE,  # A, B, A: the cache must invalidate both times
        SQUARE3, SQUARE,
        None,  # NULL subject mid-batch
        HOLED,
        HOLED,  # NULL clipping below: the cache survives the row
        BBOX_KEYED,  # an extra member: runs in C
        HOLED,
    ]
    clips = [
        SHIFTED, HOLED, SQUARE, SQUARE, SHIFTED, SHIFTED, SHIFTED, SQUARE,
        SHIFTED, None, SQUARE, SHIFTED,
    ]
    out = _check_batch(subjects, clips)
    # SQUARE, SHIFTED, SQUARE, SQUARE3, SQUARE, HOLED, BBOX_KEYED, HOLED:
    # equal bytes at different offsets of the data buffer hit the cache
    assert out.parses[0] == 8
    # one row the C parser declines, malformed or valid: the C entry
    # returns nothing, and the batch runs row by row with the same rows
    for bad in (INVALID_GRAMMAR["truncated"], VALID_DECLINED_GRAMMAR["escaped_type"]):
        _check_batch(subjects[:10] + [bad] + subjects[11:], clips, whole=False)
        _check_batch(subjects, clips[:10] + [bad] + clips[11:], whole=False)


def test_batch_rectangle_operands():
    nan = float("nan")
    subjects = [SQUARE] * 4 + [HOLED] * 3 + [SHIFTED, SHIFTED]
    rects = [
        (0.5, 0.5, 1.5, 1.5),
        (-0.0, 0.0, 1.0, 2.0),  # -0.0 survives the repr round trip
        (1.0, 1.0, 5.0, 5.0),
        (7.0, 7.0, 8.0, 8.0),  # disjoint: trivial result
        (0.25, 0.25, 0.75, 0.75),
        (0.5, None, 1.5, 1.5),  # a NULL bound mid-batch
        (nan, 0.0, 1.0, 1.0),  # non-finite: declined, then invalid_input
        (0.1, 0.2, 2.0 / 3.0, 1e-5),
        (1.0, 1.0, 1.0, 1.0),  # zero-area rectangle
    ]
    out = _check_batch(subjects[:6] + subjects[7:], None, rects=rects[:6] + rects[7:])
    assert out.parses == (3, 0)
    # the NaN bound declines the batch, which runs row by row
    _check_batch(subjects, None, rects=rects, whole=False)
    rect_cols = [pa.array(list(b), pa.float64()) for b in zip(*rects)]
    got = resolve_batch_runner()(pa.array(subjects), rect_cols, OPS)
    nan_rows = list(zip(*(c.to_pylist() for c in got)))[6 * len(OPS) : 7 * len(OPS)]
    empty = serialize_multipolygon([])
    assert nan_rows == [(op, empty, 0, None, None, None, None, "invalid_input") for op in OPS]


def test_non_finite_coordinates_return_invalid_input():
    """A NaN or infinite coordinate is rejected before the sweep (whose
    event orders need not settle on it): KernelInvalidInput from both
    kernels, status 'invalid_input' from the pair runners, at once."""
    nan, inf = float("nan"), float("inf")
    square = [[[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (0.0, 0.0)]]]
    for bounds in ((nan, 0.5, 1.5, 1.5), (-inf, 0.5, 1.5, 1.5), (0.5, 0.5, 1.5, inf)):
        x0, y0, x1, y1 = bounds
        bad = [[[(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]]]
        for fn in (boolean_op, native.boolean_op_native):
            for op in OPS:
                with pytest.raises(KernelInvalidInput):
                    fn(bad, square, op)
                with pytest.raises(KernelInvalidInput):
                    fn(square, bad, op)
        bad_json = bbox_square_json(*bounds)
        assert pair_boolean_ops_native(bad_json, SQUARE, OPS) is None  # declined
        empty = serialize_multipolygon([])
        for run in (pair_boolean_ops_python, resolve_pair_runner()):
            rows = _arrow_rows(run(bad_json, SQUARE, OPS))
            assert rows == [(op, empty, 0, None, None, None, None, "invalid_input") for op in OPS]


def test_batch_many_rows_match_per_row_runner():
    # a batch large enough that freed operand buffers get reused: the
    # offsets arrays must stay alive for the whole C call
    from rust_geo_booleanop_spark.sources.corpus import case_geometry

    ops = OPS[:4]
    pairs = [tuple(map(serialize_multipolygon, case_geometry(i))) for i in range(512)]
    out = pair_boolean_ops_batch_native(
        pa.array([s for s, _ in pairs]), pa.array([c for _, c in pairs]), ops
    )
    got = list(zip(*(c.to_pylist() for c in out.columns)))
    assert got == _arrow_rows(
        [r for s_json, c_json in pairs for r in pair_boolean_ops_native(s_json, c_json, ops)]
    )


def test_batch_sliced_large_string_and_empty():
    subjects = [SQUARE, SHIFTED, SHIFTED, None, HOLED, SQUARE, HOLED]
    clips = [HOLED, SQUARE, None, SQUARE, SHIFTED, SQUARE, SQUARE]
    s_full = pa.array(subjects, pa.string())
    c_full = pa.array(clips, pa.string())
    # sliced arrays: offset != 0 on both operands
    _check_batch(subjects[2:6], clips[2:6],
                 subject_col=s_full.slice(2, 4), clip_cols=c_full.slice(2, 4))
    # large_string: int64 offsets
    _check_batch(subjects, clips,
                 subject_col=s_full.cast(pa.large_string()),
                 clip_cols=c_full.cast(pa.large_string()))
    rect_cols = [pa.array([0.0, 1.0, None, 0.5, 0.5, 0.5, 0.5], pa.float64())] * 2 + [
        pa.array([2.0] * 7, pa.float64())
    ] * 2
    rects = list(zip(*(c.to_pylist() for c in rect_cols)))
    _check_batch(subjects[1:], None, rects=rects[1:],
                 subject_col=s_full.slice(1), clip_cols=[c.slice(1) for c in rect_cols])
    out = _check_batch([], [])
    assert [c.type for c in out.columns] == [c.type for c in payload_columns([])]
    _check_batch([], None, rects=[], clip_cols=[pa.array([], pa.float64())] * 4)


def test_batch_overflow_reruns_row_by_row(monkeypatch):
    """A batch whose JSON would pass the int32-offset limit (forced here
    by a small limit) comes back as None, and the batch runner reruns it
    row by row: whole, never truncated."""
    subjects = [SQUARE, HOLED, None, SHIFTED]
    clips = [HOLED, SHIFTED, SQUARE, SQUARE]
    s_col, c_col = pa.array(subjects), pa.array(clips)
    monkeypatch.setattr(native, "_MAX_BATCH_BYTES", 200)
    assert pair_boolean_ops_batch_native(s_col, c_col, OPS) is None
    run = resolve_pair_runner()
    want = payload_columns(
        [r for s_json, c_json in zip(subjects, clips) for r in pair_rows(run, s_json, c_json, OPS)]
    )
    got = resolve_batch_runner()(s_col, c_col, OPS)
    assert all(g.equals(w) for g, w in zip(got, want))
    assert max(len(j) for j in got[1].to_pylist() if j) > 200


def test_batch_runner_python_engine(monkeypatch):
    # without a C compiler every resolver takes the pure-Python path
    monkeypatch.setattr(native, "NATIVE_AVAILABLE", False)
    assert resolve_pair_runner() is pair_boolean_ops_python
    assert resolve_bbox_fn()(SQUARE) == (0.0, 0.0, 2.0, 2.0)
    subjects = [SQUARE, None, BBOX_KEYED]
    clips = [HOLED, SQUARE, SQUARE]
    want = payload_columns(
        [r for s_json, c_json in zip(subjects, clips)
         for r in pair_rows(pair_boolean_ops_python, s_json, c_json, OPS)]
    )
    got = resolve_batch_runner()(pa.array(subjects), pa.array(clips), OPS)
    assert all(g.equals(w) for g, w in zip(got, want))
