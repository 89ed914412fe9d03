"""Pure-JVM geometry measures over GeoJSON MultiPolygon columns.

`geometry_measures` computes per-geometry summary statistics — polygon /
ring / vertex counts, signed shoelace area, and the bounding box —
entirely with built-in higher-order functions inside whole-stage codegen:
`from_json` parses the nested coordinate arrays, nested `aggregate` folds
compute the counts and the area, `flatten` + `array_min/max` the bbox.
No Python stage anywhere (reference analogue: the per-polygon bbox/ring
walks inside `lib/src/boolean/fill_queue.rs`; here it is a declarative
Spark expression instead of an imperative pass).

Determinism contract (the g16 oracle depends on it):

- the shoelace fold is a LEFT fold with zero 0.0 at every level
  (edge terms within a ring, rings within a polygon, polygons within the
  geometry), each edge term computed as ``x_i*y_{i+1} - x_{i+1}*y_i`` —
  `measures_python` below replicates the exact same FP operation order,
  so JVM and CPython produce bit-identical doubles;
- bbox mins/maxes are order-independent; ``+ 0.0`` canonicalizes a
  potential ``-0.0`` so both engines agree on the zero sign;
- `from_json` (Jackson) and `json.loads` (CPython strtod) are both
  correctly-rounded double parsers, so the parsed coordinates match.

At 100 TB scale this is a pure map stage: no shuffle, no UDF, prunes to
the single geometry column.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# GeoJSON MultiPolygon: polygons -> rings -> points -> [x, y]
MULTIPOLYGON_SCHEMA = (
    "struct<type:string,coordinates:array<array<array<array<double>>>>>"
)


def _ring_shoelace(ring):
    """Left-fold sum of x_i*y_{i+1} - x_{i+1}*y_i over a closed ring.

    The slice length is clamped at 0 so a degenerate EMPTY ring folds to
    0.0 (matching `measures_python`'s zero-iteration loop) instead of
    crashing slice() with a negative length."""
    edges = F.transform(
        F.slice(ring, 1, F.greatest(F.size(ring) - 1, F.lit(0))),
        # slice index i is 0-based; original-ring successor is 1-based i+2
        lambda p, i: p.getItem(0) * F.element_at(ring, i + F.lit(2)).getItem(1)
        - F.element_at(ring, i + F.lit(2)).getItem(0) * p.getItem(1),
    )
    return F.aggregate(edges, F.lit(0.0), lambda acc, x: acc + x)


def geometry_measures(geoms: DataFrame, geom_col: str = "geom_json") -> DataFrame:
    """Append n_polys/n_rings/n_vertices/area/bbox columns (all JVM-side).

    `area` is the SIGNED shoelace sum over all rings. NB: this equals the
    enclosed region area only when holes are wound opposite to exteriors —
    the kernel does NOT guarantee that (reference connect_edges.rs:288:
    contours "may mix clockwise and counter-clockwise winding rules", and
    input hole rings can pass through verbatim). For the true region area
    use `region_area_column` / `region_area_python`, which subtract holes
    STRUCTURALLY (ring index > 0 within a polygon) instead of by sign.
    """
    c = F.from_json(F.col(geom_col), MULTIPOLYGON_SCHEMA)["coordinates"]
    n_polys = F.size(c)
    n_rings = F.aggregate(c, F.lit(0), lambda acc, poly: acc + F.size(poly))
    n_vertices = F.aggregate(
        c,
        F.lit(0),
        lambda acc, poly: acc
        + F.aggregate(poly, F.lit(0), lambda a, ring: a + F.size(ring)),
    )
    area2 = F.aggregate(
        c,
        F.lit(0.0),
        lambda acc, poly: acc
        + F.aggregate(poly, F.lit(0.0), lambda a, ring: a + _ring_shoelace(ring)),
    )
    pts = F.flatten(F.flatten(c))
    xs = F.transform(pts, lambda p: p.getItem(0))
    ys = F.transform(pts, lambda p: p.getItem(1))
    return geoms.select(
        *geoms.columns,
        n_polys.alias("n_polys"),
        n_rings.alias("n_rings"),
        n_vertices.alias("n_vertices"),
        (area2 * F.lit(0.5)).alias("area"),
        (F.array_min(xs) + F.lit(0.0)).alias("xmin"),
        (F.array_min(ys) + F.lit(0.0)).alias("ymin"),
        (F.array_max(xs) + F.lit(0.0)).alias("xmax"),
        (F.array_max(ys) + F.lit(0.0)).alias("ymax"),
    )


def region_area_column(geom_col: str):
    """True enclosed region area as a pure-JVM column expression.

    Per polygon: |shoelace(exterior)| minus |shoelace(hole_i)| subtracted
    SEQUENTIALLY (left fold seeded with the exterior term), polygons
    left-folded from 0.0, one final *0.5 — `region_area_python` mirrors
    this exact FP operation order. Holes are identified structurally
    (ring index > 0), never by winding, because the kernel's output
    contract guarantees [exterior, holes...] nesting but NOT hole
    orientation (reference connect_edges.rs:288). Exact for kernel
    outputs and for any multipolygon whose polygons do not overlap each
    other; self-overlapping raw inputs count overlap with multiplicity
    (kernel-normalize first — e.g. intersect with the own bbox square —
    to get even-odd semantics, as tiling.tile_area_weights does).
    """
    c = F.from_json(F.col(geom_col), MULTIPOLYGON_SCHEMA)["coordinates"]
    area2 = F.aggregate(
        c,
        F.lit(0.0),
        lambda acc, poly: acc
        + F.when(
            F.size(poly) > 0,
            F.aggregate(
                F.slice(poly, 2, F.greatest(F.size(poly) - 1, F.lit(0))),
                F.abs(_ring_shoelace(F.element_at(poly, 1))),
                lambda a, ring: a - F.abs(_ring_shoelace(ring)),
            ),
        ).otherwise(F.lit(0.0)),
    )
    return area2 * F.lit(0.5)


def region_area_python(geom_json: str) -> float:
    """CPython twin of `region_area_column` with IDENTICAL FP operation
    order (per-ring left-fold shoelace, abs, sequential hole
    subtraction, polygon left fold, single *0.5). Used by the g19/g20
    fixture generators; must be edited in lockstep with the Spark
    expression above. Safe on empty multipolygons (0.0)."""
    coords = json.loads(geom_json)["coordinates"]
    area2 = 0.0
    for poly in coords:
        if not poly:
            area2 = area2 + 0.0
            continue
        poly_acc = None
        for ring in poly:
            ring_acc = 0.0
            for i in range(len(ring) - 1):
                ring_acc = ring_acc + (
                    ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
                )
            if poly_acc is None:
                poly_acc = abs(ring_acc)
            else:
                poly_acc = poly_acc - abs(ring_acc)
        area2 = area2 + poly_acc
    return area2 * 0.5


def _ring_cx6(ring):
    """Left-fold sum of (x_i + x_{i+1}) * cross_i over a closed ring —
    the x-centroid numerator at 6x scale (centroid_x = cx6 / (3*a2))."""
    edges = F.transform(
        F.slice(ring, 1, F.greatest(F.size(ring) - 1, F.lit(0))),
        lambda p, i: (p.getItem(0) + F.element_at(ring, i + F.lit(2)).getItem(0))
        * (
            p.getItem(0) * F.element_at(ring, i + F.lit(2)).getItem(1)
            - F.element_at(ring, i + F.lit(2)).getItem(0) * p.getItem(1)
        ),
    )
    return F.aggregate(edges, F.lit(0.0), lambda acc, x: acc + x)


def _ring_cy6(ring):
    """y twin of _ring_cx6: (y_i + y_{i+1}) * cross_i."""
    edges = F.transform(
        F.slice(ring, 1, F.greatest(F.size(ring) - 1, F.lit(0))),
        lambda p, i: (p.getItem(1) + F.element_at(ring, i + F.lit(2)).getItem(1))
        * (
            p.getItem(0) * F.element_at(ring, i + F.lit(2)).getItem(1)
            - F.element_at(ring, i + F.lit(2)).getItem(0) * p.getItem(1)
        ),
    )
    return F.aggregate(edges, F.lit(0.0), lambda acc, x: acc + x)


def _ring_perimeter(ring):
    """Left-fold sum of sqrt(dx*dx + dy*dy) over the ring's edges —
    +, *, sqrt are all correctly rounded, so the CPython twin is
    bit-identical."""
    edges = F.transform(
        F.slice(ring, 1, F.greatest(F.size(ring) - 1, F.lit(0))),
        lambda p, i: F.sqrt(
            (F.element_at(ring, i + F.lit(2)).getItem(0) - p.getItem(0))
            * (F.element_at(ring, i + F.lit(2)).getItem(0) - p.getItem(0))
            + (F.element_at(ring, i + F.lit(2)).getItem(1) - p.getItem(1))
            * (F.element_at(ring, i + F.lit(2)).getItem(1) - p.getItem(1))
        ),
    )
    return F.aggregate(edges, F.lit(0.0), lambda acc, x: acc + x)


def _sign_adjusted(ring, value_fn):
    # ring term with its sign normalized so the ring's own shoelace
    # reads non-negative: exteriors and holes can be wound either way
    # (connect_edges.rs:288), so centroid numerators must be
    # re-signed per ring before structural hole subtraction
    return F.when(_ring_shoelace(ring) >= 0.0, value_fn(ring)).otherwise(
        -value_fn(ring)
    )


def _structural_fold(c, ring_fn, norm):
    """Geometry-level left fold: per polygon the exterior's term minus
    each hole's term sequentially, polygons summed from 0.0. `norm`
    wraps each ring term (abs for areas, sign-adjust for centroid
    numerators)."""
    return F.aggregate(
        c,
        F.lit(0.0),
        lambda acc, poly: acc
        + F.when(
            F.size(poly) > 0,
            F.aggregate(
                F.slice(poly, 2, F.greatest(F.size(poly) - 1, F.lit(0))),
                norm(F.element_at(poly, 1), ring_fn),
                lambda a, ring: a - norm(ring, ring_fn),
            ),
        ).otherwise(F.lit(0.0)),
    )


def shape_stats(geoms: DataFrame, geom_col: str = "geom_json") -> DataFrame:
    """Append region_area / centroid_x / centroid_y / perimeter — all
    pure-JVM higher-order-function folds inside whole-stage codegen, no
    Python stage anywhere (engine requirement; no reference counterpart —
    the reference computes no measures).

    Winding-robust by construction: every per-ring term is sign-adjusted
    so the ring's own shoelace reads non-negative, then holes (ring
    index > 0) are subtracted STRUCTURALLY — the kernel's output contract
    guarantees [exterior, holes...] nesting but not hole orientation
    (reference connect_edges.rs:288). `region_area` is bit-identical to
    `region_area_column`. `centroid_{x,y}` = cx6 / (3 * a2) over the
    structural sums (NULL for zero-area geometries); `perimeter` sums
    every ring's boundary length (holes ADD boundary). `shape_stats_python`
    is the pinned FP-order twin (g21 fixture).

    Semantics note: exact for kernel outputs and non-overlapping
    multipolygons; self-overlapping raw inputs count overlap with
    multiplicity (same contract as region_area_column).
    """
    c = F.from_json(F.col(geom_col), MULTIPOLYGON_SCHEMA)["coordinates"]
    a2 = _structural_fold(c, _ring_shoelace, lambda r, fn: F.abs(fn(r)))
    cx6 = _structural_fold(c, _ring_cx6, _sign_adjusted)
    cy6 = _structural_fold(c, _ring_cy6, _sign_adjusted)
    per = F.aggregate(
        c,
        F.lit(0.0),
        lambda acc, poly: acc
        + F.aggregate(poly, F.lit(0.0), lambda a, ring: a + _ring_perimeter(ring)),
    )
    return geoms.select(
        *geoms.columns,
        (a2 * F.lit(0.5)).alias("region_area"),
        F.when(a2 != 0.0, cx6 / (a2 * F.lit(3.0)))
        .otherwise(F.lit(None).cast("double"))
        .alias("centroid_x"),
        F.when(a2 != 0.0, cy6 / (a2 * F.lit(3.0)))
        .otherwise(F.lit(None).cast("double"))
        .alias("centroid_y"),
        per.alias("perimeter"),
    )


def shape_stats_python(geom_json: str):
    """CPython twin of `shape_stats` with IDENTICAL FP operation order.
    Each accumulator (a2/cx6/cy6/perimeter) is an independent left fold,
    so the single pass here equals the JVM's per-column folds value for
    value. Used by the g21 fixture generator; edit in lockstep with the
    Spark expressions above."""
    import math

    coords = json.loads(geom_json)["coordinates"]
    a2_total = 0.0
    cx6_total = 0.0
    cy6_total = 0.0
    per_total = 0.0
    for poly in coords:
        poly_per = 0.0
        for ring in poly:
            ring_per = 0.0
            for i in range(len(ring) - 1):
                dx = ring[i + 1][0] - ring[i][0]
                dy = ring[i + 1][1] - ring[i][1]
                ring_per = ring_per + math.sqrt(dx * dx + dy * dy)
            poly_per = poly_per + ring_per
        per_total = per_total + poly_per
        if not poly:
            a2_total = a2_total + 0.0
            cx6_total = cx6_total + 0.0
            cy6_total = cy6_total + 0.0
            continue
        poly_a2 = None
        poly_cx6 = None
        poly_cy6 = None
        for ridx, ring in enumerate(poly):
            ring_a2 = 0.0
            ring_cx6 = 0.0
            ring_cy6 = 0.0
            for i in range(len(ring) - 1):
                cross = ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
                ring_a2 = ring_a2 + cross
                ring_cx6 = ring_cx6 + (ring[i][0] + ring[i + 1][0]) * cross
                ring_cy6 = ring_cy6 + (ring[i][1] + ring[i + 1][1]) * cross
            norm_a2 = abs(ring_a2)
            if ring_a2 >= 0.0:
                norm_cx6, norm_cy6 = ring_cx6, ring_cy6
            else:
                norm_cx6, norm_cy6 = -ring_cx6, -ring_cy6
            if ridx == 0:
                poly_a2, poly_cx6, poly_cy6 = norm_a2, norm_cx6, norm_cy6
            else:
                poly_a2 = poly_a2 - norm_a2
                poly_cx6 = poly_cx6 - norm_cx6
                poly_cy6 = poly_cy6 - norm_cy6
        a2_total = a2_total + poly_a2
        cx6_total = cx6_total + poly_cx6
        cy6_total = cy6_total + poly_cy6
    return {
        "region_area": a2_total * 0.5,
        "centroid_x": cx6_total / (a2_total * 3.0) if a2_total != 0.0 else None,
        "centroid_y": cy6_total / (a2_total * 3.0) if a2_total != 0.0 else None,
        "perimeter": per_total,
    }


def iou_per_case(results: DataFrame) -> DataFrame:
    """Intersection-over-union per case from boolean-op result rows
    (the output of apply_boolean_ops / boolean_pipeline run with ops
    containing 'intersection' and 'union'): the standard overlap metric
    of geospatial ML evaluation, computed end-to-end inside the engine —
    kernel geometry (bit-exact, fixture-pinned) + the JVM region-area
    fold (structural hole subtraction; `region_area_python` is its
    pinned CPython twin) + ONE double division. The signed fold would
    mis-measure here: kernel outputs can carry holes wound the same way
    as their exterior (reference connect_edges.rs:288), so holes must be
    subtracted by ring position, not by sign.

    Output: (case_id, area_intersection, area_union, iou) for cases
    where BOTH ops returned status ok; iou = area_i / area_u, 0.0 when
    the union is empty. One hash-agg pivot on case_id — no self-join,
    no Python past the kernel stage.
    """
    m = results.filter(F.col("status") == "ok").select(
        "case_id",
        "op",
        region_area_column("result_json").alias("area"),
    )
    agg = m.groupBy("case_id").agg(
        F.max(F.when(F.col("op") == "intersection", F.col("area"))).alias(
            "area_intersection"
        ),
        F.max(F.when(F.col("op") == "union", F.col("area"))).alias(
            "area_union"
        ),
    )
    return (
        agg.filter(
            F.col("area_intersection").isNotNull()
            & F.col("area_union").isNotNull()
        )
        .withColumn(
            "iou",
            F.when(
                F.col("area_union") != 0.0,
                F.col("area_intersection") / F.col("area_union"),
            ).otherwise(F.lit(0.0)),
        )
    )


def measures_python(geom_json: str):
    """CPython twin of `geometry_measures` with IDENTICAL FP operation
    order (left folds, zero 0.0, same edge-term expression). Used by the
    g16 fixture generator (scripts/gen_geo_oracle_fixtures.py) and the
    bit-identity tests; must be edited in lockstep with the Spark
    expressions above."""
    coords = json.loads(geom_json)["coordinates"]
    n_polys = len(coords)
    n_rings = 0
    n_vertices = 0
    area2 = 0.0
    xs: list[float] = []
    ys: list[float] = []
    for poly in coords:
        n_rings += len(poly)
        poly_acc = 0.0
        for ring in poly:
            n_vertices += len(ring)
            ring_acc = 0.0
            for i in range(len(ring) - 1):
                ring_acc = ring_acc + (
                    ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
                )
            poly_acc = poly_acc + ring_acc
            for p in ring:
                xs.append(p[0])
                ys.append(p[1])
        area2 = area2 + poly_acc
    return {
        "n_polys": n_polys,
        "n_rings": n_rings,
        "n_vertices": n_vertices,
        "area": area2 * 0.5,
        "xmin": min(xs) + 0.0,
        "ymin": min(ys) + 0.0,
        "xmax": max(xs) + 0.0,
        "ymax": max(ys) + 0.0,
    }


def ring_windings(geoms: DataFrame, geom_col: str = "geom_json") -> DataFrame:
    """Per-ring winding audit, pure JVM: posexplode polygons and rings,
    orientation = sign of the ring's shoelace left fold (+1 CCW, -1 CW,
    0 degenerate), is_hole = STRUCTURAL ring index > 0 (never winding —
    the kernel's output contract guarantees [exterior, holes...] nesting
    but NOT hole orientation; reference connect_edges.rs:288). The g36
    audit quantifies exactly that non-guarantee. FP lockstep twin:
    `winding_audit_python` below — edit both together."""
    c = F.from_json(F.col(geom_col), MULTIPOLYGON_SCHEMA)["coordinates"]
    base = [F.col(col) for col in geoms.columns]
    polys = geoms.select(*base, F.posexplode(c).alias("poly_idx", "_poly"))
    rings = polys.select(
        *base, "poly_idx", F.posexplode("_poly").alias("ring_idx", "_ring")
    )
    sl = _ring_shoelace(F.col("_ring"))
    orientation = (
        F.when(sl > 0.0, 1).when(sl < 0.0, -1).otherwise(0).cast("int")
    )
    return rings.select(
        *base,
        F.col("poly_idx").cast("int").alias("poly_idx"),
        F.col("ring_idx").cast("int").alias("ring_idx"),
        orientation.alias("orientation"),
        (F.col("ring_idx") > 0).alias("is_hole"),
    )


def winding_audit_python(geom_json: str):
    """CPython twin of `ring_windings` with the identical shoelace fold
    order (lockstep rule: any edit to the JVM fold must change this
    too). Returns [(poly_idx, ring_idx, orientation, is_hole), ...]."""
    coords = json.loads(geom_json)["coordinates"]
    out = []
    for pi, poly in enumerate(coords):
        for ri, ring in enumerate(poly):
            ring_acc = 0.0
            for i in range(len(ring) - 1):
                ring_acc = ring_acc + (
                    ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
                )
            orientation = 1 if ring_acc > 0.0 else (-1 if ring_acc < 0.0 else 0)
            out.append((pi, ri, orientation, ri > 0))
    return out


def area_python(geom_json: str) -> float:
    """CPython twin of geometry_measures' `area` column ONLY, with the
    identical left-fold FP operation order — but safe on EMPTY
    multipolygons (measures_python's bbox min/max raises there, the JVM
    path yields NULL bboxes and area 0.0). Used by the g19 IoU fixture
    generator, where empty intersections are legitimate."""
    coords = json.loads(geom_json)["coordinates"]
    area2 = 0.0
    for poly in coords:
        poly_acc = 0.0
        for ring in poly:
            ring_acc = 0.0
            for i in range(len(ring) - 1):
                ring_acc = ring_acc + (
                    ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
                )
            poly_acc = poly_acc + ring_acc
        area2 = area2 + poly_acc
    return area2 * 0.5


def shape_compactness(geoms: DataFrame, geom_col: str = "geom_json") -> DataFrame:
    """Polsby-Popper compactness (isoperimetric quotient) per geometry:
    ``4 * pi * region_area / perimeter^2`` — 1.0 for a disc, -> 0 for
    sliver/fragmented shapes. The standard geospatial-ML shape feature
    (gerrymander scores, building-footprint QA) on top of the g21
    folds; engine requirement, no reference counterpart.

    FP contract: one multiply chain and one division over the already
    bit-exact `shape_stats` columns — ``((4.0 * pi) * A) / (P * P)``
    with the 17-digit pi literal, so a SQL oracle reproduces the double
    exactly. NULL for zero-perimeter (degenerate empty) geometries;
    note a straight-line degenerate ring has area 0 and positive
    perimeter -> compactness 0.0.
    """
    import math

    st = shape_stats(geoms, geom_col=geom_col)
    per = F.col("perimeter")
    return st.withColumn(
        "compactness",
        F.when(
            per > 0.0,
            ((F.lit(4.0) * F.lit(math.pi)) * F.col("region_area")) / (per * per),
        ).otherwise(F.lit(None).cast("double")),
    )
