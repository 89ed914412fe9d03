/* Martinez-Rueda-Feito boolean operations — native fast path.
 *
 * Bit-exact C twin of the pure-Python kernel in ../booleanop.py /
 * ../events.py / ../predicates.py / ../sweepline.py (which remains the
 * semantic reference; see tests/test_native_kernel.py for the
 * every-fixture equivalence gate). Reference semantics originate from
 * 21re/rust-geo-booleanop (/root/reference/lib/src/boolean/) — cited in
 * the Python modules; this file is a translation of OUR Python kernel,
 * not of the Rust.
 *
 * Exactness contract (why this matches the Python kernel bit-for-bit):
 *  - every floating-point expression copies the Python operation order;
 *    compile with -O2 -ffp-contract=off (no FMA contraction, no
 *    reassociation; x86-64 SSE2 doubles have no excess precision);
 *  - the event queue replicates CPython heapq's _siftdown/_siftup
 *    comparison sequence, so pop order of tie pairs (where `<` is False
 *    both ways) is identical;
 *  - the sweep-line insert replicates the Python bisect probe sequence
 *    (same midpoints), which matters when a mid-sweep divide_segment has
 *    invalidated the comparator (see ../sweepline.py module docstring);
 *  - the exact-rational orientation fallback (filter-inconclusive
 *    orient2d) calls back into Python Fractions via a registered
 *    function pointer — the rare path stays arbitrary-precision exact;
 *  - object identity becomes arena indices; Python `is` -> index ==;
 *  - one sweep serves several ops where the Python kernel sweeps once
 *    per op (martinez_run). The sweep hardly depends on the op: the heap
 *    order and the geometry (divisions, in_out, other_in_out, edge_type)
 *    are op-free; each op keeps its own result_transition and
 *    prev_in_result per event, updated inline at every compute_fields.
 *    The early exits (intersection past rightbound, diff past the
 *    subject's max x) take a copy of the arena and the sorted-event
 *    count at the op's break event, because the sweep that goes on for
 *    the other ops rewrites earlier events (other, left, edge_type,
 *    in_out); that op's connect_edges reads the copy. The fill differs
 *    for diff only in contour ids (every clipping ring gets s_npolys,
 *    not one id per clipping polygon) and in the write-only
 *    is_exterior_ring, and compare_segments' same-left-
 *    point tie-break is their one reader: a shared sweep flags the first
 *    such read of two clipping ids that differ, and a diff flagged
 *    before its break sweeps again alone. One requested op takes no
 *    copy and stops at its own break, exactly as the Python sweep.
 */

#include <math.h>
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

/* Width genericity, mirroring the reference kernel's Float trait
 * (lib/src/boolean/helper.rs:8-10, instantiated at f32 and f64 by its
 * test suite). Default build: f64, bit-exact vs the Python kernel.
 * -DMARTINEZ_F32 build: true f32-native arithmetic — every FP op rounds
 * to binary32, like the reference's f32 instantiation (x86-64 SSE has
 * FLT_EVAL_METHOD 0, so C float expressions evaluate in float). The
 * exact-sign callback takes doubles; float args promote exactly. */
#ifdef MARTINEZ_F32
typedef float real_t;
#define REAL_EPS 0x1p-24
#define REAL_NEXTAFTER nextafterf
#else
typedef double real_t;
#define REAL_EPS 0x1p-53
#define REAL_NEXTAFTER nextafter
#endif

/* ------------------------------------------------------------------ */
/* constants mirroring ../events.py / ../predicates.py / booleanop.py  */
/* ------------------------------------------------------------------ */

#define OP_INTERSECTION 0
#define OP_UNION 1
#define OP_DIFFERENCE 2
#define OP_XOR 3

#define EDGE_NORMAL 0
#define EDGE_NON_CONTRIBUTING 1
#define EDGE_SAME_TRANSITION 2
#define EDGE_DIFFERENT_TRANSITION 3

#define TRANS_NONE 0
#define TRANS_IN_OUT 1
#define TRANS_OUT_IN 2

#define SI_NONE 0
#define SI_POINT 1
#define SI_OVERLAP 2

#define STATUS_OK 0
#define STATUS_TRIVIAL 1
#define STATUS_LIMIT 2
#define STATUS_OOM 3
#define STATUS_INVALID 4 /* a non-finite segment, rejected in fill_queue */

/* Shewchuk's static filter bound: (3 + 16*eps) * eps for the build's
 * precision (eps = 2^-53 f64 / 2^-24 f32; the f64 constant equals the
 * Python module constant exactly — 0x1p-53 is an exact literal). */
static const real_t CCW_ERRBOUND =
    (real_t)((3.0 + 16.0 * REAL_EPS) * REAL_EPS);

/* Exact-sign fallback, registered from Python (Fraction arithmetic). */
typedef int (*exact_sign_fn)(double, double, double, double, double, double);
static exact_sign_fn g_exact_sign = 0;

void martinez_set_exact_sign(exact_sign_fn f) { g_exact_sign = f; }

/* ------------------------------------------------------------------ */
/* predicates (../predicates.py)                                      */
/* ------------------------------------------------------------------ */

static real_t signed_area(real_t p0x, real_t p0y, real_t p1x, real_t p1y,
                          real_t p2x, real_t p2y) {
    real_t detleft = (p0x - p2x) * (p1y - p2y);
    real_t detright = (p0y - p2y) * (p1x - p2x);
    real_t det = detleft - detright;
    real_t detsum;

    if (detleft > 0.0) {
        if (detright <= 0.0) return det;
        detsum = detleft + detright;
    } else if (detleft < 0.0) {
        if (detright >= 0.0) return det;
        detsum = -detleft - detright;
    } else {
        return det;
    }

    real_t errbound = CCW_ERRBOUND * detsum;
    if (det >= errbound || -det >= errbound) return det;

    /* filter inconclusive: exact rational sign via the Python callback */
    return (real_t)g_exact_sign(p0x, p0y, p1x, p1y, p2x, p2y);
}

typedef struct {
    int kind;
    real_t px, py, qx, qy;
} SegInter;

static void si_clamp(real_t x, real_t y, real_t lo_x, real_t lo_y,
                     real_t hi_x, real_t hi_y, real_t *ox, real_t *oy) {
    if (x < lo_x) {
        x = lo_x;
    } else if (x > hi_x) {
        x = hi_x;
    }
    if (y < lo_y) {
        y = lo_y;
    } else if (y > hi_y) {
        y = hi_y;
    }
    *ox = x;
    *oy = y;
}

static SegInter segment_intersection(real_t a1x, real_t a1y, real_t a2x,
                                     real_t a2y, real_t b1x, real_t b1y,
                                     real_t b2x, real_t b2y) {
    SegInter r;
    r.kind = SI_NONE;
    r.px = r.py = r.qx = r.qy = 0.0;

    real_t a_min_x, a_max_x, a_min_y, a_max_y;
    real_t b_min_x, b_max_x, b_min_y, b_max_y;
    if (a1x < a2x) { a_min_x = a1x; a_max_x = a2x; } else { a_min_x = a2x; a_max_x = a1x; }
    if (a1y < a2y) { a_min_y = a1y; a_max_y = a2y; } else { a_min_y = a2y; a_max_y = a1y; }
    if (b1x < b2x) { b_min_x = b1x; b_max_x = b2x; } else { b_min_x = b2x; b_max_x = b1x; }
    if (b1y < b2y) { b_min_y = b1y; b_max_y = b2y; } else { b_min_y = b2y; b_max_y = b1y; }
    real_t lo_x = a_min_x > b_min_x ? a_min_x : b_min_x;
    real_t lo_y = a_min_y > b_min_y ? a_min_y : b_min_y;
    real_t hi_x = a_max_x < b_max_x ? a_max_x : b_max_x;
    real_t hi_y = a_max_y < b_max_y ? a_max_y : b_max_y;
    if (!(lo_x <= hi_x && lo_y <= hi_y)) return r;

    real_t vax = a2x - a1x;
    real_t vay = a2y - a1y;
    real_t vbx = b2x - b1x;
    real_t vby = b2y - b1y;
    real_t ex = b1x - a1x;
    real_t ey = b1y - a1y;

    real_t kross = vax * vby - vay * vbx;
    real_t sqr_kross = kross * kross;
    real_t sqr_len_a = vax * vax + vay * vay;

    if (sqr_kross > 0.0) {
        real_t s = (ex * vby - ey * vbx) / kross;
        if (s < 0.0 || s > 1.0) return r;
        real_t t = (ex * vay - ey * vax) / kross;
        if (t < 0.0 || t > 1.0) return r;
        r.kind = SI_POINT;
        if (s == 0.0 || s == 1.0) {
            si_clamp(a1x + s * vax, a1y + s * vay, lo_x, lo_y, hi_x, hi_y, &r.px, &r.py);
            return r;
        }
        if (t == 0.0 || t == 1.0) {
            si_clamp(b1x + t * vbx, b1y + t * vby, lo_x, lo_y, hi_x, hi_y, &r.px, &r.py);
            return r;
        }
        si_clamp(a1x + s * vax, a1y + s * vay, lo_x, lo_y, hi_x, hi_y, &r.px, &r.py);
        return r;
    }

    kross = ex * vay - ey * vax;
    sqr_kross = kross * kross;
    if (sqr_kross > 0.0) return r;

    /* zero-length segment a: mirror the Python NaN-comparison outcome */
    if (sqr_len_a == 0.0) return r;

    real_t sa = (vax * ex + vay * ey) / sqr_len_a;
    real_t sb = sa + (vax * vbx + vay * vby) / sqr_len_a;
    real_t smin = sa < sb ? sa : sb;
    real_t smax = sa > sb ? sa : sb;

    if (smin <= 1.0 && smax >= 0.0) {
        if (smin == 1.0) {
            r.kind = SI_POINT;
            si_clamp(a1x + smin * vax, a1y + smin * vay, lo_x, lo_y, hi_x, hi_y, &r.px, &r.py);
            return r;
        }
        if (smax == 0.0) {
            r.kind = SI_POINT;
            si_clamp(a1x + smax * vax, a1y + smax * vay, lo_x, lo_y, hi_x, hi_y, &r.px, &r.py);
            return r;
        }
        real_t lo_s = smin > 0.0 ? smin : 0.0;
        real_t hi_s = smax < 1.0 ? smax : 1.0;
        r.kind = SI_OVERLAP;
        si_clamp(a1x + lo_s * vax, a1y + lo_s * vay, lo_x, lo_y, hi_x, hi_y, &r.px, &r.py);
        si_clamp(a1x + hi_s * vax, a1y + hi_s * vay, lo_x, lo_y, hi_x, hi_y, &r.qx, &r.qy);
        return r;
    }

    return r;
}

/* ------------------------------------------------------------------ */
/* event arena (../events.py Event; `other` links become indices)     */
/* ------------------------------------------------------------------ */

/* One sweep serves up to SWEEP_OPS operations (intersection, union,
 * diff, xor): each keeps its own result_transition / prev_in_result per
 * event, in the slot of the op's position in Ctx.op. */
#define SWEEP_OPS 4

typedef struct {
    real_t x, y;
    int32_t other;             /* paired endpoint index, -1 = None */
    int32_t contour_id;
    int32_t other_pos;
    int32_t output_contour_id;
    int32_t prev_in_result[SWEEP_OPS]; /* event index, -1 = None */
    uint8_t left;
    uint8_t is_subject;
    uint8_t is_exterior_ring;  /* write-only, kept for parity */
    uint8_t edge_type;
    uint8_t in_out;
    uint8_t other_in_out;
    uint8_t result_transition[SWEEP_OPS];
} Event;

typedef struct {
    real_t *pts;      /* open contour points, x,y pairs */
    int32_t np, pcap;
    int32_t *holes;   /* hole contour ids, in append order */
    int32_t nh, hcap;
    int32_t hole_of;  /* parent contour id, -1 = exterior */
    int32_t depth;
} CContour;

typedef struct {
    Event *ev;
    int32_t n, cap;
    int32_t *heap;
    int32_t hn, hcap;
    int32_t *sl;      /* sweep-line status: event indices in order */
    int32_t sln, slcap;
    int32_t *se;      /* sorted (processed) events */
    int32_t sen, secap;
    int oom;
    int invalid; /* a segment with a non-finite endpoint */
    int32_t nops;          /* ops swept together, one slot each */
    int32_t op[SWEEP_OPS];
    int cid_tie; /* compare_segments read two clipping contour ids that differ */
    int32_t view[SWEEP_OPS]; /* what each op slot reads, see VIEW_LIVE */
    Event *snap[SWEEP_OPS];  /* arena copies taken mid-sweep ... */
    int32_t snap_n[SWEEP_OPS], snap_sen[SWEEP_OPS]; /* ... their n, sen */
    int32_t nsnap;
} Ctx;

#define E(i) (&c->ev[(i)])

/* Overflow-safe capacity doubling: counts stay int32 (arena indices are
 * int32 throughout), so any growth that would pass INT32_MAX degrades to
 * a clean failure (-> STATUS_OOM/STATUS_LIMIT) instead of signed-overflow
 * UB. All intermediate arithmetic is int64. */
static int64_t next_cap(int32_t cap, int64_t need, int32_t initial) {
    if (need > INT32_MAX) return 0;
    int64_t ncap = cap ? cap : initial;
    while (ncap < need) ncap *= 2;
    if (ncap > INT32_MAX) ncap = INT32_MAX;
    return ncap;
}

static int grow_i32(int32_t **arr, int32_t *cap, int64_t need) {
    if (need <= *cap) return 1;
    int64_t ncap = next_cap(*cap, need, 64);
    if (!ncap) return 0;
    int32_t *p = (int32_t *)realloc(*arr, (size_t)ncap * sizeof(int32_t));
    if (!p) return 0;
    *arr = p;
    *cap = (int32_t)ncap;
    return 1;
}

static int32_t new_event(Ctx *c, int32_t contour_id, real_t x, real_t y,
                         int left, int32_t other, int is_subject,
                         int is_exterior_ring) {
    if (c->n >= c->cap) {
        int64_t ncap = next_cap(c->cap, (int64_t)c->n + 1, 256);
        Event *p = ncap ? (Event *)realloc(c->ev, (size_t)ncap * sizeof(Event))
                        : 0;
        if (!p) {
            c->oom = 1;
            return -1;
        }
        c->ev = p;
        c->cap = (int32_t)ncap;
    }
    Event *e = &c->ev[c->n];
    e->x = x;
    e->y = y;
    e->other = other;
    e->contour_id = contour_id;
    e->other_pos = 0;
    e->output_contour_id = -1;
    for (int k = 0; k < SWEEP_OPS; k++) {
        e->prev_in_result[k] = -1;
        e->result_transition[k] = TRANS_NONE;
    }
    e->left = (uint8_t)left;
    e->is_subject = (uint8_t)is_subject;
    e->is_exterior_ring = (uint8_t)is_exterior_ring;
    e->edge_type = EDGE_NORMAL;
    e->in_out = 0;
    e->other_in_out = 0;
    return c->n++;
}

/* ------------------------------------------------------------------ */
/* orderings (../events.py)                                           */
/* ------------------------------------------------------------------ */

/* Event.__lt__: min-heap "a processed before b"; ties False both ways. */
static int event_lt(Ctx *c, int32_t a, int32_t b) {
    Event *ea = E(a), *eb = E(b);
    real_t sx = ea->x, bx = eb->x;
    if (sx != bx) return sx < bx;
    real_t sy = ea->y, by = eb->y;
    if (sy != by) return sy < by;
    if (ea->left != eb->left) return eb->left;
    int32_t so = ea->other, bo = eb->other;
    if (so >= 0 && bo >= 0) {
        Event *eso = E(so), *ebo = E(bo);
        real_t sa = signed_area(bx, by, ebo->x, ebo->y, eso->x, eso->y);
        if (sa != 0.0) return eb->left ? (sa < 0.0) : (sa > 0.0);
    }
    return ea->is_subject && !eb->is_subject;
}

/* event_is_before: natural ascending queue order. */
static int event_is_before(Ctx *c, int32_t a, int32_t b) {
    Event *ea = E(a), *eb = E(b);
    real_t ax = ea->x, bx = eb->x;
    if (ax != bx) return ax < bx;
    real_t ay = ea->y, by = eb->y;
    if (ay != by) return ay < by;
    if (ea->left != eb->left) return !ea->left;
    int32_t ao = ea->other, bo = eb->other;
    if (ao >= 0 && bo >= 0) {
        Event *eao = E(ao), *ebo = E(bo);
        real_t sa = signed_area(ax, ay, eao->x, eao->y, ebo->x, ebo->y);
        if (sa != 0.0) return ea->left ? (sa > 0.0) : (sa < 0.0);
    }
    return !((!ea->is_subject) && eb->is_subject);
}

/* compare_segments: sweep-line status order (../events.py:156). */
static int compare_segments(Ctx *c, int32_t se1, int32_t se2) {
    if (se1 == se2) return 0;

    int32_t se_old, se_new;
    int flip;
    if (event_is_before(c, se1, se2)) {
        se_old = se1;
        se_new = se2;
        flip = 1;
    } else {
        se_old = se2;
        se_new = se1;
        flip = -1;
    }

    int32_t o_old = E(se_old)->other;
    int32_t o_new = E(se_new)->other;
    if (o_old < 0 || o_new < 0) return -flip;

    real_t ox = E(se_old)->x, oy = E(se_old)->y;
    real_t nx = E(se_new)->x, ny = E(se_new)->y;
    real_t oox = E(o_old)->x, ooy = E(o_old)->y;
    real_t sa_l = signed_area(ox, oy, oox, ooy, nx, ny);
    real_t sa_r = signed_area(ox, oy, oox, ooy, E(o_new)->x, E(o_new)->y);
    if (sa_l != 0.0 || sa_r != 0.0) {
        if (ox == nx && oy == ny) return sa_r > 0.0 ? -flip : flip;
        if (ox == nx) return oy < ny ? -flip : flip;
        if ((sa_l > 0.0) == (sa_r > 0.0)) return sa_l > 0.0 ? -flip : flip;
        if (sa_l == 0.0) return sa_r > 0.0 ? -flip : flip;
        SegInter si = segment_intersection(ox, oy, oox, ooy, nx, ny,
                                           E(o_new)->x, E(o_new)->y);
        if (si.kind == SI_POINT) {
            if (si.px == nx && si.py == ny) return sa_r > 0.0 ? -flip : flip;
            return sa_l > 0.0 ? -flip : flip;
        }
        if (si.kind != SI_OVERLAP) return sa_l > 0.0 ? -flip : flip;
        /* overlap: fall through to collinear */
    }

    if (E(se_old)->is_subject == E(se_new)->is_subject) {
        if (E(se_old)->x == E(se_new)->x && E(se_old)->y == E(se_new)->y) {
            /* the one read of contour_id: diff numbers every clipping
             * polygon alike, so a differing pair here is where a diff
             * sweep could part from the union numbering's */
            if (!E(se_old)->is_subject &&
                E(se_old)->contour_id != E(se_new)->contour_id)
                c->cid_tie = 1;
            return E(se_old)->contour_id < E(se_new)->contour_id ? -flip : flip;
        }
        return -flip;
    }
    return E(se_old)->is_subject ? -flip : flip;
}

/* ------------------------------------------------------------------ */
/* binary heap replicating CPython heapq's comparison sequence        */
/* ------------------------------------------------------------------ */

static int heap_push(Ctx *c, int32_t item) {
    if (!grow_i32(&c->heap, &c->hcap, (int64_t)c->hn + 1)) {
        c->oom = 1;
        return 0;
    }
    c->heap[c->hn++] = item;
    /* _siftdown(heap, 0, len-1) */
    int32_t pos = c->hn - 1;
    int32_t newitem = item;
    while (pos > 0) {
        int32_t parentpos = (pos - 1) >> 1;
        int32_t parent = c->heap[parentpos];
        if (event_lt(c, newitem, parent)) {
            c->heap[pos] = parent;
            pos = parentpos;
            continue;
        }
        break;
    }
    c->heap[pos] = newitem;
    return 1;
}

static int32_t heap_pop(Ctx *c) {
    int32_t lastelt = c->heap[--c->hn];
    if (c->hn == 0) return lastelt;
    int32_t returnitem = c->heap[0];
    c->heap[0] = lastelt;
    /* _siftup(heap, 0) */
    int32_t endpos = c->hn;
    int32_t startpos = 0;
    int32_t pos = 0;
    int32_t newitem = c->heap[0];
    /* childpos is int64: 2*pos+1 would sign-overflow int32 for pos>2^30 */
    int64_t childpos = 1;
    while (childpos < endpos) {
        int64_t rightpos = childpos + 1;
        if (rightpos < endpos &&
            !event_lt(c, c->heap[childpos], c->heap[rightpos]))
            childpos = rightpos;
        c->heap[pos] = c->heap[childpos];
        pos = (int32_t)childpos;
        childpos = 2 * childpos + 1;
    }
    c->heap[pos] = newitem;
    /* _siftdown(heap, startpos, pos) */
    while (pos > startpos) {
        int32_t parentpos = (pos - 1) >> 1;
        int32_t parent = c->heap[parentpos];
        if (event_lt(c, newitem, parent)) {
            c->heap[pos] = parent;
            pos = parentpos;
            continue;
        }
        break;
    }
    c->heap[pos] = newitem;
    return returnitem;
}

/* ------------------------------------------------------------------ */
/* sweep-line status list (../sweepline.py)                           */
/* ------------------------------------------------------------------ */

/* Insert replicating the Python bisect probe order exactly. */
static int32_t sl_insert(Ctx *c, int32_t event) {
    int32_t lo = 0, hi = c->sln;
    while (lo < hi) {
        int32_t mid = (lo + hi) >> 1;
        if (compare_segments(c, event, c->sl[mid]) < 0)
            hi = mid;
        else
            lo = mid + 1;
    }
    if (!grow_i32(&c->sl, &c->slcap, (int64_t)c->sln + 1)) {
        c->oom = 1;
        return 0;
    }
    memmove(c->sl + lo + 1, c->sl + lo,
            (size_t)(c->sln - lo) * sizeof(int32_t));
    c->sl[lo] = event;
    c->sln++;
    return lo;
}

/* Identity scan: the unique positional index (== Python semantics). */
static int32_t sl_index_of(Ctx *c, int32_t event) {
    for (int32_t i = 0; i < c->sln; i++)
        if (c->sl[i] == event) return i;
    return -1;
}

static void sl_remove_at(Ctx *c, int32_t i) {
    memmove(c->sl + i, c->sl + i + 1,
            (size_t)(c->sln - i - 1) * sizeof(int32_t));
    c->sln--;
}

/* ------------------------------------------------------------------ */
/* queue construction (../booleanop.py fill_queue/_process_ring)      */
/* ------------------------------------------------------------------ */

static void process_ring(Ctx *c, const real_t *coords, int32_t n,
                         int is_subject, int32_t contour_id, real_t *bbox,
                         int is_exterior_ring) {
    if (n < 2) return;
    real_t min_x = bbox[0], min_y = bbox[1], max_x = bbox[2], max_y = bbox[3];
    for (int32_t i = 0; i < n - 1; i++) {
        real_t sx = coords[(size_t)2 * i], sy = coords[(size_t)2 * i + 1];
        real_t ex = coords[(size_t)2 * i + 2], ey = coords[(size_t)2 * i + 3];
        if (sx == ex && sy == ey) continue; /* collapsed edge */
        /* every comparison with NaN is false and inf - inf is NaN, so
         * the sweep's event orderings need not settle on such a segment */
        if (!(isfinite(sx) && isfinite(sy) && isfinite(ex) && isfinite(ey))) {
            c->invalid = 1;
            return;
        }
        int32_t e1 = new_event(c, contour_id, sx, sy, 0, -1, is_subject,
                               is_exterior_ring);
        int32_t e2 = new_event(c, contour_id, ex, ey, 0, e1, is_subject,
                               is_exterior_ring);
        if (c->oom) return;
        E(e1)->other = e2;
        if (event_is_before(c, e1, e2))
            E(e1)->left = 1;
        else
            E(e2)->left = 1;
        if (sx < min_x) min_x = sx;
        if (sy < min_y) min_y = sy;
        if (sx > max_x) max_x = sx;
        if (sy > max_y) max_y = sy;
        if (!heap_push(c, e1)) return;
        if (!heap_push(c, e2)) return;
    }
    bbox[0] = min_x;
    bbox[1] = min_y;
    bbox[2] = max_x;
    bbox[3] = max_y;
}

/* ------------------------------------------------------------------ */
/* divide_segment / possible_intersection (../booleanop.py)           */
/* ------------------------------------------------------------------ */

static void divide_segment(Ctx *c, int32_t se_l, real_t ix, real_t iy) {
    int32_t se_r = E(se_l)->other;
    if (se_r < 0) return;
    if (ix == E(se_l)->x && iy < E(se_l)->y) ix = REAL_NEXTAFTER(ix, INFINITY);

    int32_t cid = E(se_l)->contour_id;
    int isub = E(se_l)->is_subject;
    int32_t r = new_event(c, cid, ix, iy, 0, se_l, isub, 1);
    int32_t l = new_event(c, cid, ix, iy, 1, se_r, isub, 1);
    if (c->oom) return;

    if (!event_is_before(c, l, se_r)) {
        E(se_r)->left = 1;
        E(l)->left = 0;
    }

    E(se_l)->other = r;
    E(se_r)->other = l;

    heap_push(c, l);
    heap_push(c, r);
}

static int possible_intersection(Ctx *c, int32_t se1, int32_t se2) {
    int32_t other1 = E(se1)->other;
    int32_t other2 = E(se2)->other;
    if (other1 < 0 || other2 < 0) return 0;

    SegInter si = segment_intersection(E(se1)->x, E(se1)->y, E(other1)->x,
                                       E(other1)->y, E(se2)->x, E(se2)->y,
                                       E(other2)->x, E(other2)->y);

    if (si.kind == SI_NONE) return 0;

    if (si.kind == SI_POINT) {
        if ((E(se1)->x == E(se2)->x && E(se1)->y == E(se2)->y) ||
            (E(other1)->x == E(other2)->x && E(other1)->y == E(other2)->y))
            return 0;
        real_t px = si.px, py = si.py;
        if (!(E(se1)->x == px && E(se1)->y == py) &&
            !(E(other1)->x == px && E(other1)->y == py))
            divide_segment(c, se1, px, py);
        if (!(E(se2)->x == px && E(se2)->y == py) &&
            !(E(other2)->x == px && E(other2)->y == py))
            divide_segment(c, se2, px, py);
        return 1;
    }

    /* overlap */
    if (E(se1)->is_subject == E(se2)->is_subject) return 0;

    int32_t evs[4][2];
    int ne = 0;
    int left_coincide = (E(se1)->x == E(se2)->x && E(se1)->y == E(se2)->y);
    if (!left_coincide) {
        if (!event_is_before(c, se1, se2)) {
            evs[ne][0] = se2; evs[ne][1] = other2; ne++;
            evs[ne][0] = se1; evs[ne][1] = other1; ne++;
        } else {
            evs[ne][0] = se1; evs[ne][1] = other1; ne++;
            evs[ne][0] = se2; evs[ne][1] = other2; ne++;
        }
    }

    int right_coincide =
        (E(other1)->x == E(other2)->x && E(other1)->y == E(other2)->y);
    if (!right_coincide) {
        if (!event_is_before(c, other1, other2)) {
            evs[ne][0] = other2; evs[ne][1] = se2; ne++;
            evs[ne][0] = other1; evs[ne][1] = se1; ne++;
        } else {
            evs[ne][0] = other1; evs[ne][1] = se1; ne++;
            evs[ne][0] = other2; evs[ne][1] = se2; ne++;
        }
    }

    if (left_coincide) {
        E(se2)->edge_type = EDGE_NON_CONTRIBUTING;
        E(se1)->edge_type = (E(se1)->in_out == E(se2)->in_out)
                                ? EDGE_SAME_TRANSITION
                                : EDGE_DIFFERENT_TRANSITION;
        if (!right_coincide) {
            real_t dx = E(evs[0][0])->x, dy = E(evs[0][0])->y;
            divide_segment(c, evs[1][1], dx, dy);
        }
        return 2;
    }

    if (right_coincide) {
        real_t dx = E(evs[1][0])->x, dy = E(evs[1][0])->y;
        divide_segment(c, evs[0][0], dx, dy);
        return 3;
    }

    if (evs[0][0] != evs[3][1]) {
        real_t d1x = E(evs[1][0])->x, d1y = E(evs[1][0])->y;
        divide_segment(c, evs[0][0], d1x, d1y);
        real_t d2x = E(evs[2][0])->x, d2y = E(evs[2][0])->y;
        divide_segment(c, evs[1][0], d2x, d2y);
        return 3;
    }

    /* total containment */
    {
        real_t d1x = E(evs[1][0])->x, d1y = E(evs[1][0])->y;
        divide_segment(c, evs[0][0], d1x, d1y);
        /* re-fetch the mutated other event AFTER the first division */
        int32_t tgt = E(evs[3][0])->other;
        real_t d2x = E(evs[2][0])->x, d2y = E(evs[2][0])->y;
        divide_segment(c, tgt, d2x, d2y);
        return 3;
    }
}

/* ------------------------------------------------------------------ */
/* field computation (../booleanop.py compute_fields et al.)          */
/* ------------------------------------------------------------------ */

static int ev_is_vertical(Ctx *c, int32_t e) {
    int32_t o = E(e)->other;
    return o >= 0 && E(e)->x == E(o)->x;
}

static int in_result_op(Ctx *c, int32_t event, int operation) {
    int et = E(event)->edge_type;
    if (et == EDGE_NORMAL) {
        if (operation == OP_INTERSECTION) return !E(event)->other_in_out;
        if (operation == OP_UNION) return E(event)->other_in_out;
        if (operation == OP_DIFFERENCE)
            return (E(event)->is_subject && E(event)->other_in_out) ||
                   (!E(event)->is_subject && !E(event)->other_in_out);
        return 1; /* xor */
    }
    if (et == EDGE_SAME_TRANSITION)
        return operation == OP_INTERSECTION || operation == OP_UNION;
    if (et == EDGE_DIFFERENT_TRANSITION) return operation == OP_DIFFERENCE;
    return 0;
}

static int result_transition_op(Ctx *c, int32_t event, int operation) {
    int this_in = !E(event)->in_out;
    int that_in = !E(event)->other_in_out;
    int is_in;
    if (operation == OP_INTERSECTION)
        is_in = this_in && that_in;
    else if (operation == OP_UNION)
        is_in = this_in || that_in;
    else if (operation == OP_XOR)
        is_in = this_in != that_in;
    else {
        if (E(event)->is_subject)
            is_in = this_in && !that_in;
        else
            is_in = that_in && !this_in;
    }
    return is_in ? TRANS_OUT_IN : TRANS_IN_OUT;
}

/* The op-free fields (in_out, other_in_out) once, then each swept op's
 * prev_in_result and result_transition in its slot. */
static void compute_fields(Ctx *c, int32_t event, int32_t prev) {
    Event *e = E(event);
    Event *p = prev >= 0 ? E(prev) : 0;
    int prev_vertical = 0;
    if (p) {
        prev_vertical = ev_is_vertical(c, prev);
        if (e->is_subject == p->is_subject) {
            e->in_out = !p->in_out;
            e->other_in_out = p->other_in_out;
        } else if (prev_vertical) {
            e->in_out = !p->other_in_out;
            e->other_in_out = !p->in_out;
        } else {
            e->in_out = !p->other_in_out;
            e->other_in_out = p->in_out;
        }
    } else {
        e->in_out = 0;
        e->other_in_out = 1;
    }

    for (int32_t k = 0; k < c->nops; k++) {
        int32_t pir = -1;
        if (p)
            pir = (p->result_transition[k] != TRANS_NONE && !prev_vertical)
                      ? prev
                      : p->prev_in_result[k];
        e->prev_in_result[k] = pir;
        int op = c->op[k];
        e->result_transition[k] =
            in_result_op(c, event, op)
                ? (uint8_t)result_transition_op(c, event, op)
                : TRANS_NONE;
    }
}

/* ------------------------------------------------------------------ */
/* the sweep (../booleanop.py subdivide), shared by several ops        */
/* ------------------------------------------------------------------ */

/* What op slot k reads after the sweep (Ctx.view[k]): */
#define VIEW_LIVE -1 /* the arena as the sweep left it */
#define VIEW_REDO -2 /* diff after a contour-id tie: sweeps again alone */
/* view[k] >= 0: the arena copy c->snap[view[k]] */

/* Every diff slot still sweeping parts from the shared sweep (a
 * contour-id tie was read); returns how many. */
static int32_t redo_diffs(Ctx *c, uint8_t *done) {
    int32_t n = 0;
    for (int32_t k = 0; k < c->nops; k++)
        if (!done[k] && c->op[k] == OP_DIFFERENCE) {
            done[k] = 1;
            c->view[k] = VIEW_REDO;
            n++;
        }
    return n;
}

static int subdivide(Ctx *c, const real_t *sbbox, const real_t *cbbox) {
    real_t rightbound = sbbox[2] < cbbox[2] ? sbbox[2] : cbbox[2];
    real_t sbbox_max_x = sbbox[2];

    long event_budget = 100L * (long)c->hn + 100000L;
    uint8_t done[SWEEP_OPS] = {0};
    int32_t pending = c->nops;

    while (c->hn) {
        if (c->cid_tie) pending -= redo_diffs(c, done);
        if (!pending) return STATUS_OK;

        int32_t event = heap_pop(c);
        if (!grow_i32(&c->se, &c->secap, (int64_t)c->sen + 1)) {
            c->oom = 1;
            return STATUS_OOM;
        }
        c->se[c->sen++] = event;
        if ((long)c->sen > event_budget) return STATUS_LIMIT;

        /* an op's early exit: the last ops still sweeping stop the sweep
         * and read the live arena; others take a copy and sweep on */
        uint8_t stop[SWEEP_OPS] = {0};
        int32_t nstop = 0;
        for (int32_t k = 0; k < c->nops; k++) {
            int op = c->op[k];
            if (!done[k] &&
                ((op == OP_INTERSECTION && E(event)->x > rightbound) ||
                 (op == OP_DIFFERENCE && E(event)->x > sbbox_max_x))) {
                stop[k] = 1;
                nstop++;
            }
        }
        if (nstop == pending) break;
        if (nstop) {
            Event *copy = (Event *)malloc((size_t)c->n * sizeof(Event));
            if (!copy) {
                c->oom = 1;
                return STATUS_OOM;
            }
            memcpy(copy, c->ev, (size_t)c->n * sizeof(Event));
            c->snap[c->nsnap] = copy;
            c->snap_n[c->nsnap] = c->n;
            c->snap_sen[c->nsnap] = c->sen;
            for (int32_t k = 0; k < c->nops; k++)
                if (stop[k]) {
                    done[k] = 1;
                    c->view[k] = c->nsnap;
                }
            c->nsnap++;
            pending -= nstop;
        }

        if (E(event)->left) {
            int32_t idx = sl_insert(c, event);
            if (c->oom) return STATUS_OOM;
            int32_t prev = idx > 0 ? c->sl[idx - 1] : -1;
            int32_t nxt = idx < c->sln - 1 ? c->sl[idx + 1] : -1;

            compute_fields(c, event, prev);

            if (nxt >= 0) {
                if (possible_intersection(c, event, nxt) == 2) {
                    compute_fields(c, event, prev);
                    compute_fields(c, nxt, event);
                }
            }
            if (c->oom) return STATUS_OOM;

            if (prev >= 0) {
                if (possible_intersection(c, prev, event) == 2) {
                    int32_t prev_prev = (idx - 1) > 0 ? c->sl[idx - 2] : -1;
                    compute_fields(c, prev, prev_prev);
                    compute_fields(c, event, prev);
                }
            }
            if (c->oom) return STATUS_OOM;
        } else {
            int32_t other = E(event)->other;
            if (other >= 0) {
                int32_t i = sl_index_of(c, other);
                if (i >= 0) {
                    int32_t prev = i > 0 ? c->sl[i - 1] : -1;
                    int32_t nxt = i < c->sln - 1 ? c->sl[i + 1] : -1;
                    if (prev >= 0 && nxt >= 0)
                        possible_intersection(c, prev, nxt);
                    if (c->oom) return STATUS_OOM;
                    sl_remove_at(c, i);
                }
            }
        }
    }
    if (c->cid_tie) redo_diffs(c, done);
    return STATUS_OK;
}

/* ------------------------------------------------------------------ */
/* result assembly (../booleanop.py connect_edges etc.)               */
/* ------------------------------------------------------------------ */

static int32_t *order_events(Ctx *c, int32_t k, int32_t *out_n) {
    int32_t n = 0;
    int32_t *res = (int32_t *)malloc((size_t)(c->sen ? c->sen : 1) * sizeof(int32_t));
    if (!res) {
        c->oom = 1;
        return 0;
    }
    for (int32_t i = 0; i < c->sen; i++) {
        int32_t e = c->se[i];
        int keep;
        if (E(e)->left)
            keep = E(e)->result_transition[k] != TRANS_NONE;
        else
            keep = E(e)->other >= 0 &&
                   E(E(e)->other)->result_transition[k] != TRANS_NONE;
        if (keep) res[n++] = e;
    }

    /* reference's adaptive bubble sort, identical pass structure */
    int unsorted = 1;
    while (unsorted) {
        unsorted = 0;
        for (int32_t i = 1; i < n; i++) {
            int32_t a = res[i - 1];
            int32_t b = res[i];
            if (!event_is_before(c, a, b)) {
                res[i - 1] = b;
                res[i] = a;
                unsorted = 1;
            }
        }
    }

    for (int32_t pos = 0; pos < n; pos++) E(res[pos])->other_pos = pos;
    for (int32_t i = 0; i < n; i++) {
        int32_t e = res[i];
        if (E(e)->left && E(e)->other >= 0) {
            int32_t o = E(e)->other;
            int32_t tmp = E(e)->other_pos;
            E(e)->other_pos = E(o)->other_pos;
            E(o)->other_pos = tmp;
        }
    }

    *out_n = n;
    return res;
}

static int32_t *precompute_iteration_order(Ctx *c, const int32_t *events,
                                           int32_t n) {
    int32_t *nxt = (int32_t *)calloc((size_t)(n ? n : 1), sizeof(int32_t));
    if (!nxt) {
        c->oom = 1;
        return 0;
    }
    int32_t i = 0;
    while (i < n) {
        int32_t ref = events[i];
        real_t rx = E(ref)->x, ry = E(ref)->y;
        int32_t r_from = i;
        while (i < n && E(events[i])->x == rx && E(events[i])->y == ry &&
               !E(events[i])->left)
            i++;
        int32_t r_upto_ex = i;
        int32_t l_from = i;
        while (i < n && E(events[i])->x == rx && E(events[i])->y == ry) i++;
        int32_t l_upto_ex = i;

        int has_r = r_upto_ex > r_from;
        int has_l = l_upto_ex > l_from;

        if (has_r) {
            int32_t r_upto = r_upto_ex - 1;
            for (int32_t j = r_from; j < r_upto; j++) nxt[j] = j + 1;
            nxt[r_upto] = has_l ? l_upto_ex - 1 : r_from;
        }
        if (has_l) {
            int32_t l_upto = l_upto_ex - 1;
            for (int32_t j = l_from + 1; j <= l_upto; j++) nxt[j] = j - 1;
            nxt[l_from] = has_r ? r_from : l_upto;
        }
    }
    return nxt;
}

static int32_t next_pos(int32_t pos, const uint8_t *processed,
                        const int32_t *iteration_map) {
    int32_t start = pos;
    for (;;) {
        pos = iteration_map[pos];
        if (pos == start) return -1;
        if (!processed[pos]) return pos;
    }
}

static int contour_push_pt(CContour *ct, real_t x, real_t y) {
    if ((int64_t)ct->np + 1 > ct->pcap) {
        int64_t ncap = next_cap(ct->pcap, (int64_t)ct->np + 1, 16);
        real_t *p = ncap ? (real_t *)realloc(
                               ct->pts, (size_t)ncap * 2 * sizeof(real_t))
                         : 0;
        if (!p) return 0;
        ct->pts = p;
        ct->pcap = (int32_t)ncap;
    }
    ct->pts[(size_t)2 * ct->np] = x;
    ct->pts[(size_t)2 * ct->np + 1] = y;
    ct->np++;
    return 1;
}

static int contour_push_hole(CContour *ct, int32_t hole_id) {
    if ((int64_t)ct->nh + 1 > ct->hcap) {
        int64_t ncap = next_cap(ct->hcap, (int64_t)ct->nh + 1, 4);
        int32_t *p = ncap ? (int32_t *)realloc(ct->holes,
                                               (size_t)ncap * sizeof(int32_t))
                          : 0;
        if (!p) return 0;
        ct->holes = p;
        ct->hcap = (int32_t)ncap;
    }
    ct->holes[ct->nh++] = hole_id;
    return 1;
}

/* _initialize_contour: fills hole_of/depth of the contour being created
 * (already appended at index contour_id) and may register it as a hole. */
static int initialize_contour(Ctx *c, int32_t k, int32_t event,
                              CContour *contours, int32_t contour_id) {
    CContour *me = &contours[contour_id];
    int32_t pir = E(event)->prev_in_result[k];
    if (pir < 0) {
        me->hole_of = -1;
        me->depth = 0;
        return 1;
    }
    int32_t lower_id = E(pir)->output_contour_id;
    if (!(0 <= lower_id && lower_id < contour_id)) {
        /* invariant breach on degenerate-overlap inputs: degrade to
         * exterior (matches the Python kernel's guard) */
        me->hole_of = -1;
        me->depth = 0;
        return 1;
    }
    if (E(pir)->result_transition[k] == TRANS_OUT_IN) {
        if (contours[lower_id].hole_of >= 0) {
            int32_t parent_id = contours[lower_id].hole_of;
            if (!contour_push_hole(&contours[parent_id], contour_id)) return 0;
            me->hole_of = parent_id;
            me->depth = contours[lower_id].depth;
            return 1;
        }
        if (!contour_push_hole(&contours[lower_id], contour_id)) return 0;
        me->hole_of = lower_id;
        me->depth = contours[lower_id].depth + 1;
        return 1;
    }
    me->hole_of = -1;
    me->depth = contours[lower_id].depth;
    return 1;
}

/* ------------------------------------------------------------------ */
/* public result struct + entry point                                 */
/* ------------------------------------------------------------------ */

typedef struct {
    int32_t status;
    int32_t n_contours;
    int64_t total_pts;
    int64_t total_holes;
    real_t *pts;          /* flattened contour points, x,y */
    int32_t *contour_np;  /* per contour: number of points (open ring) */
    int32_t *hole_of;     /* per contour: parent id or -1 */
    int32_t *contour_nh;  /* per contour: number of hole ids */
    int32_t *holes;       /* flattened hole ids */
} MartinezResult;

void martinez_free(MartinezResult *r) {
    if (!r) return;
    free(r->pts);
    free(r->contour_np);
    free(r->hole_of);
    free(r->contour_nh);
    free(r->holes);
    free(r);
}

static MartinezResult *result_with_status(int status) {
    MartinezResult *r = (MartinezResult *)calloc(1, sizeof(MartinezResult));
    if (!r) return 0;
    r->status = status;
    return r;
}

static void ctx_free(Ctx *c) {
    free(c->ev);
    free(c->heap);
    free(c->sl);
    free(c->se);
    for (int32_t i = 0; i < c->nsnap; i++) free(c->snap[i]);
}

/* One operand: flattened closed rings.
 *   coords: x,y pairs for all rings of all polygons, concatenated
 *   ring_np: points per ring
 *   poly_nr: rings per polygon */
typedef struct {
    const real_t *coords;
    const int32_t *ring_np;
    const int32_t *poly_nr;
    int32_t npolys;
} Operand;

/* fill_queue: subject polygons get contour ids 1..s_npolys; with
 * `exterior` (every op but a lone diff) clipping polygon k gets
 * s_npolys+1+k, without it every clipping ring keeps s_npolys. */
static int fill_queue(Ctx *c, const Operand *s, const Operand *cl,
                      real_t *sbbox, real_t *cbbox, int exterior) {
    int32_t contour_id = 0;
    const real_t *p = s->coords;
    int32_t ring_idx = 0;
    for (int32_t poly = 0; poly < s->npolys; poly++) {
        contour_id++;
        int32_t nr = s->poly_nr[poly];
        for (int32_t k = 0; k < nr; k++) {
            int32_t np = s->ring_np[ring_idx++];
            process_ring(c, p, np, 1, contour_id, sbbox, k == 0);
            p += (size_t)2 * np;
            if (c->oom || c->invalid) return c->oom ? STATUS_OOM : STATUS_INVALID;
        }
    }
    p = cl->coords;
    ring_idx = 0;
    for (int32_t poly = 0; poly < cl->npolys; poly++) {
        if (exterior) contour_id++;
        int32_t nr = cl->poly_nr[poly];
        for (int32_t k = 0; k < nr; k++) {
            int32_t np = cl->ring_np[ring_idx++];
            process_ring(c, p, np, 0, contour_id, cbbox, exterior && k == 0);
            p += (size_t)2 * np;
            if (c->oom || c->invalid) return c->oom ? STATUS_OOM : STATUS_INVALID;
        }
    }
    return STATUS_OK;
}

/* connect_edges for op slot k over c's arena and sorted events, into
 * the public result. NULL when an allocation fails. */
static MartinezResult *connect_edges(Ctx *c, int32_t k) {
    int32_t n_res = 0;
    int32_t *res = order_events(c, k, &n_res);
    if (!res) return 0;
    int32_t *iter_map = precompute_iteration_order(c, res, n_res);
    if (!iter_map) {
        free(res);
        return 0;
    }
    uint8_t *processed = (uint8_t *)calloc((size_t)(n_res ? n_res : 1), 1);
    CContour *contours = 0;
    int32_t n_contours = 0, cap_contours = 0;
    int oom = processed == 0;

    for (int32_t i = 0; i < n_res && !oom; i++) {
        if (processed[i]) continue;

        int32_t cid = n_contours;
        if ((int64_t)n_contours + 1 > cap_contours) {
            int64_t ncap = next_cap(cap_contours, (int64_t)n_contours + 1, 16);
            CContour *p = ncap ? (CContour *)realloc(
                                     contours, (size_t)ncap * sizeof(CContour))
                               : 0;
            if (!p) {
                oom = 1;
                break;
            }
            contours = p;
            cap_contours = (int32_t)ncap;
        }
        CContour *ct = &contours[n_contours++];
        memset(ct, 0, sizeof(CContour));
        if (!initialize_contour(c, k, res[i], contours, cid)) {
            oom = 1;
            break;
        }
        ct = &contours[cid]; /* re-deref: hole push may not realloc self, but be safe */

        int32_t pos = i;
        real_t initial_x = E(res[pos])->x;
        real_t initial_y = E(res[pos])->y;
        if (!contour_push_pt(ct, initial_x, initial_y)) {
            oom = 1;
            break;
        }

        for (;;) {
            processed[pos] = 1;
            E(res[pos])->output_contour_id = cid;

            pos = E(res[pos])->other_pos;
            processed[pos] = 1;
            E(res[pos])->output_contour_id = cid;
            if (!contour_push_pt(ct, E(res[pos])->x, E(res[pos])->y)) {
                oom = 1;
                break;
            }

            pos = next_pos(pos, processed, iter_map);
            if (pos < 0) break;
            if (E(res[pos])->x == initial_x && E(res[pos])->y == initial_y)
                break;
        }
        if (oom) break;
    }

    free(res);
    free(iter_map);
    free(processed);

    MartinezResult *out = 0;
    if (!oom) {
        out = (MartinezResult *)calloc(1, sizeof(MartinezResult));
        if (out) {
            int64_t total_pts = 0, total_holes = 0;
            for (int32_t i = 0; i < n_contours; i++) {
                total_pts += contours[i].np;
                total_holes += contours[i].nh;
            }
            out->status = STATUS_OK;
            out->n_contours = n_contours;
            out->total_pts = total_pts;
            out->total_holes = total_holes;
            out->pts = (real_t *)malloc((size_t)(total_pts ? total_pts : 1) * 2 *
                                        sizeof(real_t));
            out->contour_np =
                (int32_t *)malloc((size_t)(n_contours ? n_contours : 1) * sizeof(int32_t));
            out->hole_of =
                (int32_t *)malloc((size_t)(n_contours ? n_contours : 1) * sizeof(int32_t));
            out->contour_nh =
                (int32_t *)malloc((size_t)(n_contours ? n_contours : 1) * sizeof(int32_t));
            out->holes = (int32_t *)malloc(
                (size_t)(total_holes ? total_holes : 1) * sizeof(int32_t));
            if (!out->pts || !out->contour_np || !out->hole_of ||
                !out->contour_nh || !out->holes) {
                martinez_free(out);
                out = 0;
            } else {
                real_t *pp = out->pts;
                int32_t *hp = out->holes;
                for (int32_t i = 0; i < n_contours; i++) {
                    memcpy(pp, contours[i].pts,
                           (size_t)contours[i].np * 2 * sizeof(real_t));
                    pp += (size_t)2 * contours[i].np;
                    out->contour_np[i] = contours[i].np;
                    out->hole_of[i] = contours[i].hole_of;
                    out->contour_nh[i] = contours[i].nh;
                    memcpy(hp, contours[i].holes,
                           (size_t)contours[i].nh * sizeof(int32_t));
                    hp += contours[i].nh;
                }
            }
        }
    }

    for (int32_t i = 0; i < n_contours; i++) {
        free(contours[i].pts);
        free(contours[i].holes);
    }
    free(contours);

    return out;
}

/* Op slot k's result after a sweep that returned `st`: connect_edges on
 * its snapshot when the sweep took one, else on the live arena (or the
 * sweep's own status). Every op starts from a clean output_contour_id
 * (initialize_contour trusts any id in range) and other_pos. */
static MartinezResult *op_result(Ctx *c, int32_t k, int st) {
    Ctx v = *c;
    if (c->view[k] >= 0) {
        v.ev = c->snap[c->view[k]];
        v.n = c->snap_n[c->view[k]];
        v.sen = c->snap_sen[c->view[k]];
    } else if (st != STATUS_OK) {
        return result_with_status(st);
    }
    for (int32_t i = 0; i < v.n; i++) {
        v.ev[i].output_contour_id = -1;
        v.ev[i].other_pos = 0;
    }
    MartinezResult *r = connect_edges(&v, k);
    return r ? r : result_with_status(STATUS_OOM);
}

/* The one core: fill_queue and one sweep for the `nops` distinct ops in
 * `ops`, then connect_edges per op into out[k] (NULL only when even the
 * status result cannot be allocated). Several ops share union's contour
 * numbering, and a diff that reads a contour-id tie before its own early
 * exit runs again alone; a one-op call keeps its op's own numbering and
 * stops at its own break, exactly as the Python sweep. */
static void martinez_run(const Operand *s, const Operand *cl,
                         const int32_t *ops, int32_t nops,
                         MartinezResult **out) {
    Ctx ctx_store;
    Ctx *c = &ctx_store;
    memset(c, 0, sizeof(Ctx));
    c->nops = nops;
    for (int32_t k = 0; k < nops; k++) {
        c->op[k] = ops[k];
        c->view[k] = VIEW_LIVE;
    }

    real_t sbbox[4] = {INFINITY, INFINITY, -INFINITY, -INFINITY};
    real_t cbbox[4] = {INFINITY, INFINITY, -INFINITY, -INFINITY};
    int st = fill_queue(c, s, cl, sbbox, cbbox,
                        !(nops == 1 && ops[0] == OP_DIFFERENCE));

    /* trivial bbox short-circuit: the Python wrapper builds the result */
    if (st == STATUS_OK &&
        (sbbox[0] > cbbox[2] || cbbox[0] > sbbox[2] || sbbox[1] > cbbox[3] ||
         cbbox[1] > sbbox[3]))
        st = STATUS_TRIVIAL;
    if (st == STATUS_OK) st = subdivide(c, sbbox, cbbox);

    for (int32_t k = 0; k < nops; k++) {
        if (c->view[k] == VIEW_REDO)
            martinez_run(s, cl, &ops[k], 1, &out[k]);
        else
            out[k] = op_result(c, k, st);
    }
    ctx_free(c);
}

/* Inputs: flattened closed rings per operand (see Operand); the ring
 * counts are implied by poly_nr. Caller guarantees rings are closed
 * (first == last) — the Python wrapper mirrors _normalize_multipolygon
 * before flattening. A segment with a NaN or infinite endpoint returns
 * STATUS_INVALID. */
MartinezResult *martinez_boolean_op(
    const real_t *s_coords, const int32_t *s_ring_np, int32_t s_nrings,
    const int32_t *s_poly_nr, int32_t s_npolys, const real_t *c_coords,
    const int32_t *c_ring_np, int32_t c_nrings, const int32_t *c_poly_nr,
    int32_t c_npolys, int32_t operation) {
    (void)s_nrings;
    (void)c_nrings;
    const Operand s = {s_coords, s_ring_np, s_poly_nr, s_npolys};
    const Operand cl = {c_coords, c_ring_np, c_poly_nr, c_npolys};
    MartinezResult *r = 0;
    martinez_run(&s, &cl, &operation, 1, &r);
    return r;
}

#ifndef MARTINEZ_F32
/* ==================================================================== */
/* JSON pair runner: parse once, one shared sweep, serialize in C.      */
/*                                                                      */
/* The Spark kernel stage's Python marshalling (json.loads -> nested    */
/* tuples -> per-op flatten -> sweep -> tuple rebuild -> json.dumps)    */
/* profiled at ~43% of stage CPU after the native sweep landed. This    */
/* section moves the whole pair lifecycle into C while keeping BYTE     */
/* identity with the Python path by construction:                       */
/*  - numbers are parsed with CPython's own PyOS_string_to_double (the  */
/*    exact function json.loads uses on number tokens) and formatted    */
/*    with PyOS_double_to_string('r', ADD_DOT_0) (the exact repr the    */
/*    json C encoder emits for floats) — both resolved from the host    */
/*    process at runtime via dlsym, never reimplemented;                */
/*  - ring closing / trivial-result / contour-assembly serialization    */
/*    replicate kernel/geojson.py and operators/boolean_join.py;        */
/*  - the parser takes every geometry the one validity rule of          */
/*    kernel/geojson.py accepts, save a few exotic spellings: an        */
/*    escaped member name or type value, a repeated type or             */
/*    coordinates, an altitude that is no finite number, an int token   */
/*    past 640 digits, a member nested deeper than MZ_SKIP_DEPTH.       */
/*    Those and every input the rule rejects return MZ_UNSUPPORTED,     */
/*    and the Python wrapper runs the reference marshalling, where the  */
/*    rule decides. Nothing the rule rejects is accepted here, so both  */
/*    engines agree on any input: a rejected operand gives              */
/*    'invalid_input' rows, never an exception.                         */
/*                                                                      */
/* One pair entry point, mz_pair_run_batch, runs an Arrow batch of     */
/* pairs — string operands parsed once per run of equal consecutive     */
/* rows (a last-row cache), rectangle clippings built from their four   */
/* doubles without any JSON. Per row, one martinez_run sweeps the       */
/* distinct ops among intersection, union, diff and xor together        */
/* (diff_ba, on swapped operands, sweeps alone), then one per-op body   */
/* (mz_op_emit) serializes each op in the requested order. It is the    */
/* Spark kernel stage's hot path; a single pair (dissolve, the          */
/* ceilings) is a batch of one row.                                     */
/*                                                                      */
/* GIL: ctypes releases the GIL around the foreign call; the Python     */
/* C-API calls here require it, so the entry points re-acquire it with  */
/* PyGILState_Ensure for their whole body — once per batch for          */
/* mz_pair_run_batch. Spark Python workers are single-threaded, so this */
/* costs ~100ns and blocks nothing.                                     */
/* ==================================================================== */

#include <dlfcn.h>
#ifndef RTLD_DEFAULT
#define RTLD_DEFAULT ((void *)0)
#endif

#define MZ_OK 0
#define MZ_LIMIT 2
#define MZ_OOM 3
#define MZ_UNSUPPORTED 4

#define MZ_DTSF_ADD_DOT_0 2 /* Py_DTSF_ADD_DOT_0 */

typedef char *(*mz_d2s_fn)(double, char, int, int, int *);
typedef double (*mz_s2d_fn)(const char *, char **, void *);
typedef void (*mz_pymem_free_fn)(void *);
typedef int (*mz_gil_ensure_fn)(void);
typedef void (*mz_gil_release_fn)(int);
typedef void *(*mz_err_occurred_fn)(void);
typedef void (*mz_err_clear_fn)(void);

static struct {
    int ready; /* 0 unresolved, 1 ok, -1 failed (stay on Python path) */
    mz_d2s_fn d2s;
    mz_s2d_fn s2d;
    mz_pymem_free_fn pymem_free;
    mz_gil_ensure_fn gil_ensure;
    mz_gil_release_fn gil_release;
    mz_err_occurred_fn err_occurred;
    mz_err_clear_fn err_clear;
} g_py;

static int mz_pyapi_init(void) {
    if (g_py.ready) return g_py.ready == 1;
    g_py.d2s = (mz_d2s_fn)dlsym(RTLD_DEFAULT, "PyOS_double_to_string");
    g_py.s2d = (mz_s2d_fn)dlsym(RTLD_DEFAULT, "PyOS_string_to_double");
    g_py.pymem_free = (mz_pymem_free_fn)dlsym(RTLD_DEFAULT, "PyMem_Free");
    g_py.gil_ensure = (mz_gil_ensure_fn)dlsym(RTLD_DEFAULT, "PyGILState_Ensure");
    g_py.gil_release =
        (mz_gil_release_fn)dlsym(RTLD_DEFAULT, "PyGILState_Release");
    g_py.err_occurred =
        (mz_err_occurred_fn)dlsym(RTLD_DEFAULT, "PyErr_Occurred");
    g_py.err_clear = (mz_err_clear_fn)dlsym(RTLD_DEFAULT, "PyErr_Clear");
    g_py.ready = (g_py.d2s && g_py.s2d && g_py.pymem_free && g_py.gil_ensure &&
                  g_py.gil_release && g_py.err_occurred && g_py.err_clear)
                     ? 1
                     : -1;
    return g_py.ready == 1;
}

/* ---------------- growable output buffer ---------------- */

typedef struct {
    char *p;
    int64_t n, cap;
} StrBuf;

static int sb_need(StrBuf *b, int64_t extra) {
    if (b->n + extra <= b->cap) return 1;
    int64_t ncap = b->cap ? b->cap : 256;
    while (ncap < b->n + extra) {
        if (ncap > INT64_MAX / 2) return 0;
        ncap *= 2;
    }
    char *np = (char *)realloc(b->p, (size_t)ncap);
    if (!np) return 0;
    b->p = np;
    b->cap = ncap;
    return 1;
}

static int sb_putsn(StrBuf *b, const char *s, int64_t n) {
    if (!sb_need(b, n)) return 0;
    memcpy(b->p + b->n, s, (size_t)n);
    b->n += n;
    return 1;
}

#define SB_LIT(b, s) sb_putsn((b), (s), (int64_t)(sizeof(s) - 1))

static int sb_putc(StrBuf *b, char ch) {
    if (!sb_need(b, 1)) return 0;
    b->p[b->n++] = ch;
    return 1;
}

/* Python repr bytes for a double — json.dumps' float path by
 * construction (float_repr: PyOS_double_to_string 'r' + ADD_DOT_0).
 * An integral |v| < 1e16 other than -0.0 is written as its integer's
 * digits plus ".0" without the call: that is its repr (fixed notation
 * below 1e16, and below 2^54 no shorter digit string rounds back to an
 * integral double), and most pipeline coordinates take this path. */
static int sb_putd(StrBuf *b, double v) {
    if (v > -1e16 && v < 1e16 && v == (double)(int64_t)v &&
        !(v == 0.0 && signbit(v))) {
        char digits[24];
        int n = (int)sizeof(digits);
        digits[--n] = '0';
        digits[--n] = '.';
        int64_t i = (int64_t)v;
        uint64_t u = i < 0 ? (uint64_t)0 - (uint64_t)i : (uint64_t)i;
        do {
            digits[--n] = (char)('0' + u % 10);
            u /= 10;
        } while (u);
        if (i < 0) digits[--n] = '-';
        return sb_putsn(b, digits + n, (int64_t)sizeof(digits) - n);
    }
    char *s = g_py.d2s(v, 'r', 0, MZ_DTSF_ADD_DOT_0, 0);
    if (!s) return 0;
    int ok = sb_putsn(b, s, (int64_t)strlen(s));
    g_py.pymem_free(s);
    return ok;
}

/* ---------------- parsed geometry (flat, closed rings) ---------------- */

typedef struct {
    double *coords; /* x,y pairs, all rings concatenated */
    int64_t npts, cap_pts;
    int32_t *ring_np; /* points per ring */
    int64_t nrings, cap_rings;
    int32_t *poly_nr; /* rings per polygon */
    int64_t npolys, cap_polys;
} MzGeom;

static void mz_geom_free(MzGeom *g) {
    free(g->coords);
    free(g->ring_np);
    free(g->poly_nr);
    memset(g, 0, sizeof(*g));
}

static int mz_geom_init(MzGeom *g) {
    memset(g, 0, sizeof(*g));
    /* non-NULL buffers even for empty geometries (mirrors the Python
     * wrapper's padding; martinez_boolean_op never reads past counts) */
    g->coords = (double *)malloc(16 * sizeof(double));
    g->ring_np = (int32_t *)malloc(8 * sizeof(int32_t));
    g->poly_nr = (int32_t *)malloc(8 * sizeof(int32_t));
    if (!g->coords || !g->ring_np || !g->poly_nr) return 0;
    g->cap_pts = 8;
    g->cap_rings = 8;
    g->cap_polys = 8;
    return 1;
}

static int mz_geom_push_pt(MzGeom *g, double x, double y) {
    if (g->npts + 1 > g->cap_pts) {
        int64_t ncap = g->cap_pts * 2;
        double *np = (double *)realloc(g->coords, (size_t)ncap * 2 * sizeof(double));
        if (!np) return 0;
        g->coords = np;
        g->cap_pts = ncap;
    }
    g->coords[2 * g->npts] = x;
    g->coords[2 * g->npts + 1] = y;
    g->npts++;
    return 1;
}

static int mz_push_i32(int32_t **arr, int64_t *n, int64_t *cap, int32_t v) {
    if (*n + 1 > *cap) {
        int64_t ncap = *cap * 2;
        int32_t *np = (int32_t *)realloc(*arr, (size_t)ncap * sizeof(int32_t));
        if (!np) return 0;
        *arr = np;
        *cap = ncap;
    }
    (*arr)[(*n)++] = v;
    return 1;
}

/* ---------------- GeoJSON geometry parser ---------------- */

typedef struct {
    const char *p, *end;
} MzCur;

static void mz_ws(MzCur *c) {
    while (c->p < c->end && (*c->p == ' ' || *c->p == '\t' || *c->p == '\n' ||
                             *c->p == '\r'))
        c->p++;
}

static int mz_ch(MzCur *c, char ch) {
    mz_ws(c);
    if (c->p < c->end && *c->p == ch) {
        c->p++;
        return 1;
    }
    return 0;
}

static int mz_lit(MzCur *c, const char *s) {
    mz_ws(c);
    size_t n = strlen(s);
    if ((size_t)(c->end - c->p) >= n && memcmp(c->p, s, n) == 0) {
        c->p += n;
        return 1;
    }
    return 0;
}

/* One JSON number. Token syntax per RFC 8259; value semantics per
 * json.loads followed by geojson._position's float(): an int token goes
 * through Python int->float, which rounds like strtod (so only "-0",
 * +0.0 there, needs care), a float token through PyOS_string_to_double,
 * the identical code path json.loads itself uses. A non-finite value
 * (1e999, an int past the double range) declines, and so does an int
 * token past 640 digits: json.loads refuses one longer than
 * sys.get_int_max_str_digits(), which is never below 640. With out NULL
 * only the token is checked (a member value: json.loads takes 1e999). */
static int mz_parse_number(MzCur *c, double *out) {
    mz_ws(c);
    const char *s = c->p, *e = c->end;
    const char *p = s;
    if (p < e && *p == '-') p++;
    const char *int_start = p;
    if (p >= e) return MZ_UNSUPPORTED;
    if (*p == '0') {
        p++;
    } else if (*p >= '1' && *p <= '9') {
        while (p < e && *p >= '0' && *p <= '9') p++;
    } else {
        return MZ_UNSUPPORTED;
    }
    const char *int_end = p;
    int has_frac = 0, has_exp = 0;
    if (p < e && *p == '.') {
        p++;
        if (!(p < e && *p >= '0' && *p <= '9')) return MZ_UNSUPPORTED;
        while (p < e && *p >= '0' && *p <= '9') p++;
        has_frac = 1;
    }
    if (p < e && (*p == 'e' || *p == 'E')) {
        p++;
        if (p < e && (*p == '+' || *p == '-')) p++;
        if (!(p < e && *p >= '0' && *p <= '9')) return MZ_UNSUPPORTED;
        while (p < e && *p >= '0' && *p <= '9') p++;
        has_exp = 1;
    }
    int is_int = !has_frac && !has_exp;
    if (is_int && int_end - int_start > 640) return MZ_UNSUPPORTED;
    if (out && is_int && *s == '-' && *int_start == '0') {
        *out = 0.0; /* json: int(-0) == 0 -> float +0.0 */
    } else if (out) {
        /* strtod reads on past the token: the text must go on (it does
         * in any valid geometry) or it would read past the buffer */
        if (p == e) return MZ_UNSUPPORTED;
        char *endp = 0;
        double v = g_py.s2d(s, &endp, 0);
        if (endp != p || !isfinite(v)) return MZ_UNSUPPORTED;
        *out = v;
    }
    c->p = p;
    return MZ_OK;
}

/* [x,y] or [x,y,alt,...] — extra numeric members ignored like
 * geojson._close taking p[0:2]; non-number members fall back. */
static int mz_parse_position(MzCur *c, double *x, double *y) {
    if (!mz_ch(c, '[')) return MZ_UNSUPPORTED;
    int st = mz_parse_number(c, x);
    if (st != MZ_OK) return st;
    if (!mz_ch(c, ',')) return MZ_UNSUPPORTED;
    st = mz_parse_number(c, y);
    if (st != MZ_OK) return st;
    while (mz_ch(c, ',')) {
        double z;
        st = mz_parse_number(c, &z);
        if (st != MZ_OK) return st;
    }
    if (!mz_ch(c, ']')) return MZ_UNSUPPORTED;
    return MZ_OK;
}

/* One ring; closes it exactly like geojson._close (append first point
 * iff tuple-!= the last: same C semantics for -0.0 == 0.0). */
static int mz_parse_ring(MzCur *c, MzGeom *g) {
    if (!mz_ch(c, '[')) return MZ_UNSUPPORTED;
    int64_t start = g->npts;
    mz_ws(c);
    if (c->p < c->end && *c->p == ']') {
        c->p++;
    } else {
        for (;;) {
            double x, y;
            int st = mz_parse_position(c, &x, &y);
            if (st != MZ_OK) return st;
            if (!mz_geom_push_pt(g, x, y)) return MZ_OOM;
            if (mz_ch(c, ',')) continue;
            if (mz_ch(c, ']')) break;
            return MZ_UNSUPPORTED;
        }
    }
    int64_t np = g->npts - start;
    if (np > 0) {
        double x0 = g->coords[2 * start], y0 = g->coords[2 * start + 1];
        double xn = g->coords[2 * (g->npts - 1)];
        double yn = g->coords[2 * (g->npts - 1) + 1];
        if (x0 != xn || y0 != yn) {
            if (!mz_geom_push_pt(g, x0, y0)) return MZ_OOM;
            np++;
        }
    }
    if (np > INT32_MAX) return MZ_UNSUPPORTED;
    if (!mz_push_i32(&g->ring_np, &g->nrings, &g->cap_rings, (int32_t)np))
        return MZ_OOM;
    return MZ_OK;
}

static int mz_parse_polygon(MzCur *c, MzGeom *g) {
    if (!mz_ch(c, '[')) return MZ_UNSUPPORTED;
    int64_t nrings = 0;
    mz_ws(c);
    if (c->p < c->end && *c->p == ']') {
        c->p++;
    } else {
        for (;;) {
            int st = mz_parse_ring(c, g);
            if (st != MZ_OK) return st;
            nrings++;
            if (mz_ch(c, ',')) continue;
            if (mz_ch(c, ']')) break;
            return MZ_UNSUPPORTED;
        }
    }
    if (nrings > INT32_MAX) return MZ_UNSUPPORTED;
    if (!mz_push_i32(&g->poly_nr, &g->npolys, &g->cap_polys, (int32_t)nrings))
        return MZ_OOM;
    return MZ_OK;
}

/* One JSON string: 1 with the cursor past its closing quote if
 * json.loads takes it (valid escapes, no raw control character), else
 * 0. *esc tells whether it holds an escape. */
static int mz_skip_string(MzCur *c, int *esc) {
    if (!mz_ch(c, '"')) return 0;
    const char *p = c->p, *e = c->end;
    *esc = 0;
    for (; p < e && *p != '"'; p++) {
        if ((unsigned char)*p < 0x20) return 0;
        if (*p != '\\') continue;
        *esc = 1;
        if (++p == e) return 0;
        if (*p == 'u') {
            for (int k = 0; k < 4; k++)
                if (++p == e || !memchr("0123456789abcdefABCDEF", *p, 22)) return 0;
        } else if (!memchr("\"\\/bfnrt", *p, 8)) {
            return 0;
        }
    }
    if (p == e) return 0;
    c->p = p + 1;
    return 1;
}

/* Skip one JSON value that json.loads takes. A value nesting arrays and
 * objects more than MZ_SKIP_DEPTH deep declines: the Python decoder's
 * own limit, CPython's recursion limit, lies far deeper. */
#define MZ_SKIP_DEPTH 64

static int mz_skip_value(MzCur *c, int depth) {
    int esc;
    mz_ws(c);
    if (c->p == c->end) return MZ_UNSUPPORTED;
    const char open = *c->p;
    if (open == '"') return mz_skip_string(c, &esc) ? MZ_OK : MZ_UNSUPPORTED;
    if (open != '[' && open != '{') {
        if (mz_lit(c, "true") || mz_lit(c, "false") || mz_lit(c, "null"))
            return MZ_OK;
        return mz_parse_number(c, 0);
    }
    const char close = open == '[' ? ']' : '}';
    if (depth == MZ_SKIP_DEPTH) return MZ_UNSUPPORTED;
    c->p++;
    if (mz_ch(c, close)) return MZ_OK;
    do {
        if (open == '{' && !(mz_skip_string(c, &esc) && mz_ch(c, ':')))
            return MZ_UNSUPPORTED;
        int st = mz_skip_value(c, depth + 1);
        if (st != MZ_OK) return st;
    } while (mz_ch(c, ','));
    return mz_ch(c, close) ? MZ_OK : MZ_UNSUPPORTED;
}

static int mz_parse_coordinates(MzCur *c, int multi, MzGeom *g) {
    int st;
    if (multi) {
        if (!mz_ch(c, '[')) return MZ_UNSUPPORTED;
        mz_ws(c);
        if (c->p < c->end && *c->p == ']') {
            c->p++;
        } else {
            for (;;) {
                st = mz_parse_polygon(c, g);
                if (st != MZ_OK) return st;
                if (mz_ch(c, ',')) continue;
                if (mz_ch(c, ']')) break;
                return MZ_UNSUPPORTED;
            }
        }
    } else {
        st = mz_parse_polygon(c, g);
        if (st != MZ_OK) return st;
    }
    return MZ_OK;
}

/* {"type":"Polygon"|"MultiPolygon","coordinates":...} plus any other
 * members, in any order (our pipelines emit type first; reference-style
 * fixtures put coordinates first). type and coordinates may each appear
 * once (json.loads keeps the last); any other member's value is skipped.
 * A member name with an escape declines: "\u0074ype" is type to
 * json.loads. Coordinate nesting depth depends on the type, so
 * coordinates before the type are skipped and parsed once it is known. */
static int mz_parse_geometry(const char *s, int64_t len, MzGeom *g) {
    MzCur c = {s, s + len};
    if (!mz_geom_init(g)) return MZ_OOM;
    if (!mz_ch(&c, '{')) return MZ_UNSUPPORTED;
    int multi = -1, esc, st, parsed = 0;
    const char *coords_start = 0, *coords_end = 0;
    do {
        st = MZ_OK;
        if (mz_lit(&c, "\"type\"")) {
            if (multi != -1 || !mz_ch(&c, ':')) return MZ_UNSUPPORTED;
            if (mz_lit(&c, "\"MultiPolygon\"")) {
                multi = 1;
            } else if (mz_lit(&c, "\"Polygon\"")) {
                multi = 0;
            } else {
                return MZ_UNSUPPORTED;
            }
        } else if (mz_lit(&c, "\"coordinates\"")) {
            if (coords_start || !mz_ch(&c, ':')) return MZ_UNSUPPORTED;
            mz_ws(&c);
            coords_start = c.p;
            parsed = multi != -1;
            st = parsed ? mz_parse_coordinates(&c, multi, g) : mz_skip_value(&c, 0);
            coords_end = c.p;
        } else if (mz_skip_string(&c, &esc) && !esc && mz_ch(&c, ':')) {
            st = mz_skip_value(&c, 0);
        } else {
            return MZ_UNSUPPORTED;
        }
        if (st != MZ_OK) return st;
    } while (mz_ch(&c, ','));
    if (!mz_ch(&c, '}')) return MZ_UNSUPPORTED;
    mz_ws(&c);
    if (c.p != c.end || multi == -1 || !coords_start) return MZ_UNSUPPORTED;
    if (parsed) return MZ_OK;
    MzCur cc = {coords_start, coords_end};
    st = mz_parse_coordinates(&cc, multi, g);
    if (st != MZ_OK) return st;
    mz_ws(&cc);
    return cc.p == cc.end ? MZ_OK : MZ_UNSUPPORTED;
}

/* ---------------- serializer (byte-identical to json.dumps) ---------------- */

typedef struct {
    double xmin, ymin, xmax, ymax;
} MzBb;

static void mz_bb_init(MzBb *b) {
    b->xmin = INFINITY;
    b->ymin = INFINITY;
    b->xmax = -INFINITY;
    b->ymax = -INFINITY;
}

static void mz_bb_add(MzBb *b, double x, double y) {
    if (x < b->xmin) b->xmin = x;
    if (y < b->ymin) b->ymin = y;
    if (x > b->xmax) b->xmax = x;
    if (y > b->ymax) b->ymax = y;
}

/* [[x,y],...] closing the ring iff open — the exact _close_ring /
 * close_ring rule the Python paths apply before json.dumps. */
static int mz_sb_ring(StrBuf *b, const double *pts, int64_t np, MzBb *bb) {
    if (!sb_putc(b, '[')) return 0;
    for (int64_t i = 0; i < np; i++) {
        if (i && !sb_putc(b, ',')) return 0;
        if (!sb_putc(b, '[')) return 0;
        if (!sb_putd(b, pts[2 * i])) return 0;
        if (!sb_putc(b, ',')) return 0;
        if (!sb_putd(b, pts[2 * i + 1])) return 0;
        if (!sb_putc(b, ']')) return 0;
        mz_bb_add(bb, pts[2 * i], pts[2 * i + 1]);
    }
    if (np > 0 && (pts[0] != pts[2 * (np - 1)] || pts[1] != pts[2 * np - 1])) {
        if (!SB_LIT(b, ",[")) return 0;
        if (!sb_putd(b, pts[0])) return 0;
        if (!sb_putc(b, ',')) return 0;
        if (!sb_putd(b, pts[1])) return 0;
        if (!sb_putc(b, ']')) return 0;
        mz_bb_add(bb, pts[0], pts[1]);
    }
    return sb_putc(b, ']');
}

/* Emit every polygon of a parsed geometry (trivial-result path:
 * _trivial_result serializes the normalized operands verbatim). */
static int mz_sb_geom_polys(StrBuf *b, const MzGeom *g, int *first, MzBb *bb) {
    const double *p = g->coords;
    int64_t ring = 0;
    for (int64_t poly = 0; poly < g->npolys; poly++) {
        if (!*first && !sb_putc(b, ',')) return 0;
        *first = 0;
        if (!sb_putc(b, '[')) return 0;
        int32_t nr = g->poly_nr[poly];
        for (int32_t k = 0; k < nr; k++) {
            if (k && !sb_putc(b, ',')) return 0;
            int32_t np = g->ring_np[ring++];
            if (!mz_sb_ring(b, p, np, bb)) return 0;
            p += (size_t)2 * np;
        }
        if (!sb_putc(b, ']')) return 0;
    }
    return 1;
}

/* Emit the sweep result: exterior contours with their holes, in contour
 * order — the polygon-assembly tail of kernel/booleanop.py:595-601. */
static int mz_sb_result(StrBuf *b, const MartinezResult *r, MzBb *bb,
                        int32_t *n_polys) {
    int32_t n = r->n_contours;
    int64_t *off = 0;
    if (n > 0) {
        off = (int64_t *)malloc((size_t)n * sizeof(int64_t));
        if (!off) return 0;
        int64_t acc = 0;
        for (int32_t i = 0; i < n; i++) {
            off[i] = acc;
            acc += r->contour_np[i];
        }
    }
    int64_t hoff_acc = 0;
    int64_t *hoff = 0;
    if (n > 0) {
        hoff = (int64_t *)malloc((size_t)n * sizeof(int64_t));
        if (!hoff) {
            free(off);
            return 0;
        }
        for (int32_t i = 0; i < n; i++) {
            hoff[i] = hoff_acc;
            hoff_acc += r->contour_nh[i];
        }
    }
    int first = 1;
    int32_t npoly = 0;
    int ok = 1;
    for (int32_t i = 0; i < n && ok; i++) {
        if (r->hole_of[i] != -1) continue;
        if (!first) ok = sb_putc(b, ',');
        first = 0;
        if (ok) ok = sb_putc(b, '[');
        if (ok)
            ok = mz_sb_ring(b, r->pts + 2 * off[i], r->contour_np[i], bb);
        for (int32_t h = 0; h < r->contour_nh[i] && ok; h++) {
            int32_t hid = r->holes[hoff[i] + h];
            ok = sb_putc(b, ',') &&
                 mz_sb_ring(b, r->pts + 2 * off[hid], r->contour_np[hid], bb);
        }
        if (ok) ok = sb_putc(b, ']');
        npoly++;
    }
    free(off);
    free(hoff);
    *n_polys = npoly;
    return ok;
}

/* ---------------- per-op body and operand parse ---------------- */

#define MZ_OPC_DIFF_BA 4

static Operand mz_operand(const MzGeom *g) {
    Operand o = {g->coords, g->ring_np, g->poly_nr, (int32_t)g->npolys};
    return o;
}

/* The per-op body: append the GeoJSON of op `mop` (0..3), whose sweep
 * over operands (a, bg) gave r, to b. Returns MZ_OK (then *status is
 * MZ_OK or MZ_LIMIT, bb4 NaN when the result is empty) or MZ_OOM. The
 * parser and the rectangle rows admit only finite doubles, so
 * STATUS_INVALID never comes back here. */
static int32_t mz_op_emit(const MzGeom *a, const MzGeom *bg, int32_t mop,
                          const MartinezResult *r, StrBuf *b,
                          int32_t *status, int32_t *n_polys, double *bb4) {
    if (!r) return MZ_OOM;
    MzBb bb;
    mz_bb_init(&bb);
    int32_t npolys = 0;
    *status = MZ_OK;
    int ok = SB_LIT(b, "{\"type\":\"MultiPolygon\",\"coordinates\":[");
    if (ok) {
        if (r->status == STATUS_OK) {
            ok = mz_sb_result(b, r, &bb, &npolys);
        } else if (r->status == STATUS_TRIVIAL) {
            int first = 1;
            if (mop == OP_DIFFERENCE) {
                ok = mz_sb_geom_polys(b, a, &first, &bb);
                npolys = (int32_t)a->npolys;
            } else if (mop != OP_INTERSECTION) { /* union / xor */
                ok = mz_sb_geom_polys(b, a, &first, &bb) &&
                     mz_sb_geom_polys(b, bg, &first, &bb);
                npolys = (int32_t)(a->npolys + bg->npolys);
            } /* intersection: empty */
        } else if (r->status == STATUS_LIMIT) {
            *status = MZ_LIMIT; /* empty result, row survives */
        } else {
            ok = 0;
        }
    }
    if (ok) ok = SB_LIT(b, "]}");
    if (!ok) return MZ_OOM;
    *n_polys = npolys;
    if (npolys > 0) {
        bb4[0] = bb.xmin;
        bb4[1] = bb.ymin;
        bb4[2] = bb.xmax;
        bb4[3] = bb.ymax;
    } else {
        bb4[0] = bb4[1] = bb4[2] = bb4[3] = NAN;
    }
    return MZ_OK;
}

/* Parse one operand under the GIL. A PyOS_string_to_double error on a
 * token our scanner admitted is cleared and declines the operand, so
 * the validity rule of kernel/geojson.py decides it. */
static int32_t mz_parse_operand(const char *s, int64_t len, MzGeom *g) {
    int st = mz_parse_geometry(s, len, g);
    if (g_py.err_occurred()) {
        g_py.err_clear();
        if (st == MZ_OK) st = MZ_UNSUPPORTED;
    }
    return st == MZ_OK ? MZ_OK : (st == MZ_OOM ? MZ_OOM : MZ_UNSUPPORTED);
}

/* ------------- the pair entry point: one call per batch -------------- */
/*                                                                      */
/* mz_pair_run_batch runs every op of n rows in one foreign call (one    */
/* GIL acquisition); a single pair is a call with n = 1. Operands        */
/* arrive as Arrow-layout string columns: int64 value offsets (already  */
/* shifted by the array's slice offset) into the data buffer. The       */
/* clipping is either a second such column or, when                     */
/* c_offsets is NULL, an n x 4 float64 rectangle array (xmin, ymin,     */
/* xmax, ymax) built straight into the closed 5-point ring that         */
/* kernel/pairs.bbox_square_json writes — repr round-trips exactly, so   */
/* these are the doubles the parser would return. A non-finite bound    */
/* declines the row.                                                    */
/*                                                                      */
/* Each operand keeps a last-row cache: a string operand is parsed      */
/* again only when its bytes differ from the previous row's (length     */
/* check + memcmp). assign_tiles emits a geometry's tiles as            */
/* consecutive rows, so tile clips parse each geometry once.            */
/*                                                                      */
/* Per (row, op), slot i * n_ops + k gets status/n_polys/bbox and its   */
/* JSON at out_offsets[slot] .. out_offsets[slot + 1] in one contiguous */
/* buffer (*out_json, free with mz_buf_free). A row with null[i] set    */
/* makes no kernel call and gets empty JSON, n_polys 0, NaN bbox. The   */
/* batch comes back whole or not at all: MZ_OK returns it;              */
/* MZ_UNSUPPORTED (the first declined row, or the CPython number        */
/* functions did not resolve), MZ_OOM and MZ_OVERFLOW (the JSON would   */
/* pass max_bytes, the int32 Arrow offsets) return nothing, and the     */
/* caller runs the batch row by row.                                    */

#define MZ_OVERFLOW 5

typedef struct {
    const char *key; /* bytes of the cached operand (NULL: empty cache) */
    int64_t len;
    MzGeom g; /* their parse; the batch stops at a failed one */
} MzCached;

static int32_t mz_cached_parse(MzCached *c, const char *s, int64_t len,
                               int64_t *n_parses) {
    if (c->key && c->len == len && memcmp(c->key, s, (size_t)len) == 0)
        return MZ_OK;
    mz_geom_free(&c->g);
    c->key = 0;
    int32_t st = mz_parse_operand(s, len, &c->g);
    if (st != MZ_OK) return st;
    c->key = s;
    c->len = len;
    (*n_parses)++;
    return MZ_OK;
}

/* The rectangle ring [(x0,y0),(x1,y0),(x1,y1),(x0,y1),(x0,y0)]. */
static int32_t mz_rect_geom(const double *r4, MzGeom *g) {
    if (!g->coords && !mz_geom_init(g)) return MZ_OOM;
    const double x0 = r4[0], y0 = r4[1], x1 = r4[2], y1 = r4[3];
    const double ring[10] = {x0, y0, x1, y0, x1, y1, x0, y1, x0, y0};
    memcpy(g->coords, ring, sizeof(ring)); /* init capacity is 8 points */
    g->npts = 5;
    g->ring_np[0] = 5;
    g->nrings = 1;
    g->poly_nr[0] = 1;
    g->npolys = 1;
    return MZ_OK;
}

void mz_buf_free(void *p) { free(p); }

int32_t mz_pair_run_batch(int64_t n, const uint8_t *null,
                          const int64_t *s_offsets, const char *s_data,
                          const int64_t *c_offsets, const char *c_data,
                          const double *rects, const int32_t *ops,
                          int32_t n_ops, int64_t max_bytes,
                          int32_t *out_offsets,
                          int32_t *out_n_polys, double *out_bbox,
                          int8_t *out_status, char **out_json,
                          int64_t *out_parses) {
    *out_json = 0;
    out_parses[0] = out_parses[1] = 0;
    if (!mz_pyapi_init()) return MZ_UNSUPPORTED;
    /* the distinct op codes 0..3 share one sweep per row; diff_ba, on
     * swapped operands, sweeps alone */
    int32_t sweep_ops[SWEEP_OPS], nsweep = 0, diff_ba = 0;
    uint8_t seen[MZ_OPC_DIFF_BA + 1] = {0};
    for (int32_t k = 0; k < n_ops; k++) {
        int32_t opc = ops[k];
        if (opc < 0 || opc > MZ_OPC_DIFF_BA) return MZ_UNSUPPORTED;
        if (seen[opc]) continue;
        seen[opc] = 1;
        if (opc == MZ_OPC_DIFF_BA)
            diff_ba = 1;
        else
            sweep_ops[nsweep++] = opc;
    }
    int gil = g_py.gil_ensure();
    MzCached S, C;
    memset(&S, 0, sizeof(S));
    memset(&C, 0, sizeof(C));
    StrBuf sb;
    memset(&sb, 0, sizeof(sb));
    int32_t ret = sb_need(&sb, 1) ? MZ_OK : MZ_OOM; /* never a NULL buffer */
    out_offsets[0] = 0;
    for (int64_t i = 0; i < n && ret == MZ_OK; i++) {
        MartinezResult *by_op[MZ_OPC_DIFF_BA + 1] = {0}; /* by op code */
        if (!null[i]) {
            ret = mz_cached_parse(&S, s_data + s_offsets[i],
                                  s_offsets[i + 1] - s_offsets[i], &out_parses[0]);
            if (ret == MZ_OK && c_offsets) {
                ret = mz_cached_parse(&C, c_data + c_offsets[i],
                                      c_offsets[i + 1] - c_offsets[i],
                                      &out_parses[1]);
            } else if (ret == MZ_OK) {
                const double *r4 = rects + 4 * i;
                int finite = isfinite(r4[0]) && isfinite(r4[1]) &&
                             isfinite(r4[2]) && isfinite(r4[3]);
                ret = finite ? mz_rect_geom(r4, &C.g) : MZ_UNSUPPORTED;
            }
            if (ret != MZ_OK) break;
            const Operand so = mz_operand(&S.g), co = mz_operand(&C.g);
            MartinezResult *swept[SWEEP_OPS] = {0};
            if (nsweep) martinez_run(&so, &co, sweep_ops, nsweep, swept);
            for (int32_t j = 0; j < nsweep; j++) by_op[sweep_ops[j]] = swept[j];
            if (diff_ba) {
                const int32_t diff = OP_DIFFERENCE;
                martinez_run(&co, &so, &diff, 1, &by_op[MZ_OPC_DIFF_BA]);
            }
        }
        for (int32_t k = 0; k < n_ops; k++) {
            int64_t slot = i * n_ops + k;
            int32_t status = MZ_OK, npolys = 0;
            double *bb4 = out_bbox + 4 * slot;
            if (!null[i]) {
                const MartinezResult *r = by_op[ops[k]];
                if (ops[k] == MZ_OPC_DIFF_BA)
                    ret = mz_op_emit(&C.g, &S.g, OP_DIFFERENCE, r, &sb,
                                     &status, &npolys, bb4);
                else
                    ret = mz_op_emit(&S.g, &C.g, ops[k], r, &sb, &status,
                                     &npolys, bb4);
                if (ret != MZ_OK) break;
                if (sb.n > max_bytes) {
                    ret = MZ_OVERFLOW;
                    break;
                }
            } else {
                bb4[0] = bb4[1] = bb4[2] = bb4[3] = NAN;
            }
            out_status[slot] = (int8_t)status;
            out_n_polys[slot] = npolys;
            out_offsets[slot + 1] = (int32_t)sb.n;
        }
        for (int32_t j = 0; j <= MZ_OPC_DIFF_BA; j++) martinez_free(by_op[j]);
    }
    mz_geom_free(&S.g);
    mz_geom_free(&C.g);
    g_py.gil_release(gil);
    if (ret != MZ_OK) {
        free(sb.p);
        return ret;
    }
    *out_json = sb.p;
    return MZ_OK;
}

/* Parse + bbox only (extraction stage fast path: geojson.parse_multipolygon
 * + multipolygon_bbox without building Python objects). out4 gets
 * (inf, inf, -inf, -inf) for a geometry with no points — exactly
 * multipolygon_bbox's empty answer. */
int32_t mz_parse_bbox(const char *s_json, int64_t s_len, double *out4) {
    if (!mz_pyapi_init()) return MZ_UNSUPPORTED;
    int gil = g_py.gil_ensure();
    MzGeom g;
    memset(&g, 0, sizeof(g));
    int32_t st = mz_parse_operand(s_json, s_len, &g);
    if (st == MZ_OK) {
        MzBb bb;
        mz_bb_init(&bb);
        for (int64_t i = 0; i < g.npts; i++)
            mz_bb_add(&bb, g.coords[2 * i], g.coords[2 * i + 1]);
        out4[0] = bb.xmin;
        out4[1] = bb.ymin;
        out4[2] = bb.xmax;
        out4[3] = bb.ymax;
    }
    mz_geom_free(&g);
    g_py.gil_release(gil);
    return st;
}

/* Repr/parse probes for the differential tests (format one double /
 * parse one number token) — not used by the pipelines. */
int32_t mz_repr_double(double v, char *out, int32_t cap) {
    if (!mz_pyapi_init()) return -1;
    int gil = g_py.gil_ensure();
    StrBuf sb;
    memset(&sb, 0, sizeof(sb));
    int32_t n = -1;
    if (sb_putd(&sb, v) && sb.n < cap) {
        memcpy(out, sb.p, (size_t)sb.n);
        out[sb.n] = 0;
        n = (int32_t)sb.n;
    }
    free(sb.p);
    g_py.gil_release(gil);
    return n;
}

#endif /* !MARTINEZ_F32 */
