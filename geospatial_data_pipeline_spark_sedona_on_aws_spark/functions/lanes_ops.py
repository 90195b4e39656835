"""Vectorized canonical-text lanes for the five r10 scalar parity batches
(r11, VERDICT r10 item 1): st_shape_edit_ops, st_edit_line_ops,
st_measure_ops, st_affine_ops, st_misc_ops — the last per-row-Python
family in the registry (~28 s combined at sf0.1). The coordinate maps
of st_affine_ops (ST_Rotate, ST_Scale, ST_Affine, ST_SnapToGrid,
ST_ReducePrecision, ST_Expand, with ST_Translate) and the measures
(ST_Area, ST_NPoints, ST_NumPoints, ST_Length, ST_Centroid) have no
lane: they are packed bodies in functions/geomb.py, called alone
through its one-node adapter and chained packed by the projection
fuser. The generic bodies FLINE_ANY, FMPOINT_ANY and FPOLY_ANY below
are also what geomb's text edge decodes from.

Same design as functions/lanes.py (which this module builds on): each
hot ST_ function gets a BATCH lane keyed on the canonical machine-built
WKT classes the engine itself emits (JVM `concat` of integer columns,
and this engine's own `_fmt`-canonical intermediate emissions). The lane
machinery is pyarrow compute (RE2 `extract_regex` for structure +
`binary_join_element_wise` for emission); rows a lane does not claim
fall back to the unchanged scalar kernel, so lanes change COST, never
semantics.

New in r11 over the r10 lanes:

- `lanes.fmt_f64` — arrow's float64->string cast is bit-identical to
  kernel `_fmt` inside |v| ∈ [1e-4, 1e10) ∪ {0} (verified on 1.7M
  samples incl. dense edge sweeps), so geometry EMISSION vectorizes
  too: geometry-valued lanes (ST_Multi, ST_LineSubstring, ...)
  re-serialize whole batches through one arrow cast instead of per-row
  `_fmt`.
- float-atom structural patterns (FLINE2/FLINE3/FPOLY5/...) so the
  OUTPUT of one laned stage, or a packed body's WKT, is claimable by
  the next lane of the same expression.

Exactness contract (bit-equal to the scalar twin, pinned by
tests/test_lanes_ops.py): float parse is arrow strtod == Python float;
closed-form arithmetic replicates the scalar's operation ORDER in
float64 (IEEE +,-,*,/,sqrt are correctly rounded, so numpy == CPython);
`math.hypot` / `math.atan2` / spherical trig — whose last-ulp behavior
is libm-specific — run per matched row on the PRE-PARSED floats (the
parse, not the arithmetic, is the scalar's dominant cost); PREDICATES
that feed branches (Welzl in-circle, snap tolerance, Weiszfeld
convergence) are evaluated vectorized with an explicit margin gate —
rows within the margin of the decision boundary are simply not claimed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow.compute as pc

from . import lanes as L
from .lanes import (_Batch, _Fill, _named, _num, _join, batch_of,
                    fmt_f64_full as fmt_f64, FPOINT2, FPOINTZ, POLY5)

_F = L._F
_FN = r"(?:-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)"     # non-capturing float
_FP = rf"{_FN} {_FN}"                              # non-capturing pair
_I = L._I

FLINE2 = _named(rf"^LINESTRING \({_F} {_F}, {_F} {_F}\)$")
FLINE3 = _named(rf"^LINESTRING \({_F} {_F}, {_F} {_F}, {_F} {_F}\)$")
ILINE4 = _named(
    r"^LINESTRING \(%s %s, %s %s, %s %s, %s %s\)$" % ((_I,) * 8))
FLINE5 = _named(
    r"^LINESTRING \(%s %s, %s %s, %s %s, %s %s, %s %s\)$" % ((_F,) * 10))
FPOLY5 = _named(
    r"^POLYGON \(\(%s %s, %s %s, %s %s, %s %s, %s %s\)\)$" % ((_F,) * 10))
IMPOINT4 = _named(
    r"^MULTIPOINT \(%s %s, %s %s, %s %s, %s %s\)$" % ((_I,) * 8))
IGC_PPL = _named(
    rf"^GEOMETRYCOLLECTION \(POINT \({_I} {_I}\), POINT \({_I} {_I}\), "
    rf"LINESTRING \({_I} {_I}, {_I} {_I}\)\)$")
FGC2L2 = _named(
    rf"^GEOMETRYCOLLECTION \(LINESTRING \({_F} {_F}, {_F} {_F}\), "
    rf"LINESTRING \({_F} {_F}, {_F} {_F}\)\)$")
FGC1L2 = _named(
    rf"^GEOMETRYCOLLECTION \(LINESTRING \({_F} {_F}, {_F} {_F}\)\)$")
#: a GC of exactly two bare integer LINESTRING members — ForceCollection
#: of an integer MULTILINESTRING, the st_orientation_ops chain
_GC2LINE = _named(
    rf"^GEOMETRYCOLLECTION \(LINESTRING \((?:{L._P})(?:, (?:{L._P}))+\), "
    rf"LINESTRING \((?:{L._P})(?:, (?:{L._P}))+\)\)$")
#: fully-validating generic bodies (claimable for counting accessors and
#: for functions/geomb.decode)
FLINE_ANY = _named(rf"^LINESTRING \(({_FP}(?:, {_FP})+)\)$")
FPOLY_ANY = _named(rf"^POLYGON \(\(({_FP}(?:, {_FP})+)\)\)$")
FMPOINT_ANY = _named(rf"^MULTIPOINT \(({_FP}(?:, {_FP})*)\)$")


def _npnum(x) -> np.ndarray:
    """Numeric ndarray of a possibly-object arg Series (NaN = unclaimed)."""
    return pd.to_numeric(x, errors="coerce").to_numpy(dtype=float)


def _fallback2(out, claimed, a, b, row_fn) -> pd.Series:
    outs = pd.Series(out, index=a.index, dtype=object)
    rest = pd.Series(~claimed, index=a.index)
    if rest.any():
        outs[rest] = pd.Series([row_fn(x, y) for x, y in
                                zip(a[rest], b[rest])],
                               index=a[rest].index, dtype=object)
    return outs


# ------------------------------------------------------ rect vertices

def _fpoly5_closed(b: _Batch):
    """(closed mask, xs[0..3], ys[0..3]) of the FPOLY5 extract — the 4
    STORED ring vertices (kernel _parse_ring drops the explicit closing
    point, kernel to_wkt re-appends it)."""
    valid, g = b.extract(FPOLY5)
    xs = [_num(g, 2 * i) for i in range(5)]
    ys = [_num(g, 2 * i + 1) for i in range(5)]
    closed = valid & (xs[4] == xs[0]) & (ys[4] == ys[0])
    return closed, xs[:4], ys[:4]


def multi(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    m, g = f.b.extract(FPOINT2)
    if m.any():
        sx, okx = fmt_f64(_num(g, 0))
        sy, oky = fmt_f64(_num(g, 1))
        f.put(m & okx & oky, _join("MULTIPOINT (", sx, " ", sy, ")"))
    return f.finish(scalar_fn)


_GTYPE_LANES = (
    (FPOINT2, "ST_Point"), (FPOINTZ, "ST_Point"),
    (FPOLY5, "ST_Polygon"), (FLINE_ANY, "ST_LineString"),
    (FMPOINT_ANY, "ST_MultiPoint"),
)


def geometry_type(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    for pat, name in _GTYPE_LANES:
        f.put(f.b.match(pat), name)
    f.put(f.b.match(L.MLS2), "ST_MultiLineString")
    return f.finish(scalar_fn)


# --------------------------------------------------------- measures

def perimeter(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    g, ccw, cw, _ = L._poly5_walks(f.b)
    m = ccw | cw
    if m.any():
        # axis-aligned edges: math.hypot(d, 0) == |d| exactly, summed in
        # ring order 0 + w + h + w + h
        x1, x2 = _num(g, 0), _num(g, 2)
        ylo = np.minimum(_num(g, 1), _num(g, 5))
        yhi = np.maximum(_num(g, 1), _num(g, 5))
        w = np.abs(x2 - x1)
        h = yhi - ylo
        f.put(m, ((0.0 + w) + h + w) + h)
    # lineal / puntal canonical classes: 0.0 (the PostGIS convention)
    for pat in (FPOINT2, FLINE_ANY, FMPOINT_ANY):
        f.put(f.b.match(pat), 0.0)
    return f.finish(scalar_fn)


def angle3(p1: pd.Series, p2: pd.Series, p3: pd.Series,
           scalar_fn) -> pd.Series:
    n = len(p1)
    b1, b2, b3 = batch_of(p1), batch_of(p2), batch_of(p3)
    m1, g1 = b1.extract(FPOINT2)
    m2, g2 = b2.extract(FPOINT2)
    m3, g3 = b3.extract(FPOINT2)
    x1, y1 = _num(g1, 0), _num(g1, 1)
    x2, y2 = _num(g2, 0), _num(g2, 1)
    x3, y3 = _num(g3, 0), _num(g3, 1)
    m = m1 & m2 & m3 & ~((x1 == x2) & (y1 == y2)) \
        & ~((x3 == x2) & (y3 == y2))
    out = np.full(n, None, dtype=object)
    if m.any():
        tau = 2 * math.pi
        at2 = math.atan2
        for i in np.nonzero(m)[0]:
            a1 = at2(x1[i] - x2[i], y1[i] - y2[i])
            if a1 < 0:
                a1 += tau
            a2 = at2(x3[i] - x2[i], y3[i] - y2[i])
            if a2 < 0:
                a2 += tau
            out[i] = (a2 - a1) % tau
    outs = pd.Series(out, index=p1.index, dtype=object)
    rest = pd.Series(~m, index=p1.index)
    if rest.any():
        outs[rest] = pd.Series(
            [scalar_fn(a, b, c) for a, b, c in
             zip(p1[rest], p2[rest], p3[rest])],
            index=p1[rest].index, dtype=object)
    return outs


def _rect_corners(b: _Batch):
    """(mask, [4 corner (x, y) arrays] in convex-hull order) for int-rect
    POLY5 walks. G.convex_hull of the 4 distinct corners is
    [(A,B), (C,B), (C,D), (A,D)] (monotone chain from sorted points)."""
    g, ccw, cw, _ = L._poly5_walks(b)
    m = ccw | cw
    a, c = _num(g, 0), _num(g, 2)
    blo = np.minimum(_num(g, 1), _num(g, 5))
    bhi = np.maximum(_num(g, 1), _num(g, 5))
    return m, [(a, blo), (c, blo), (c, bhi), (a, bhi)]


def max_distance(a: pd.Series, b: pd.Series, scalar_fn) -> pd.Series:
    n = len(a)
    ba, bb = batch_of(a), batch_of(b)
    mp, gp = ba.extract(FPOINT2)
    mr, corners = _rect_corners(bb)
    m = mp & mr
    out = np.full(n, None, dtype=object)
    if m.any():
        px, py = _num(gp, 0), _num(gp, 1)
        best = None
        for (cx, cy) in corners:
            d2 = (px - cx) ** 2 + (py - cy) ** 2
            best = d2 if best is None else np.maximum(best, d2)
        out[m] = np.sqrt(best)[m]
    return _fallback2(out, m, a, b, scalar_fn)


def longest_line(a: pd.Series, b: pd.Series, scalar_fn) -> pd.Series:
    n = len(a)
    ba, bb = batch_of(a), batch_of(b)
    mp, gp = ba.extract(FPOINT2)
    mr, corners = _rect_corners(bb)
    m = mp & mr
    out = np.full(n, None, dtype=object)
    if m.any():
        px, py = _num(gp, 0), _num(gp, 1)
        bd2 = np.full(n, -np.inf)
        bx = np.zeros(n)
        by = np.zeros(n)
        # scalar max() over (d2, p1, p2) tuples: p1 is the constant point,
        # so ties in d2 break on the CORNER tuple (x, then y)
        for (cx, cy) in corners:
            d2 = (px - cx) ** 2 + (py - cy) ** 2
            take = (d2 > bd2) | ((d2 == bd2)
                                 & ((cx > bx) | ((cx == bx) & (cy > by))))
            bd2 = np.where(take, d2, bd2)
            bx = np.where(take, cx, bx)
            by = np.where(take, cy, by)
        s1, o1 = fmt_f64(px)
        s2, o2 = fmt_f64(py)
        s3, o3 = fmt_f64(bx)
        s4, o4 = fmt_f64(by)
        m = m & o1 & o2 & o3 & o4
        txt = _join("LINESTRING (", s1, " ", s2, ", ", s3, " ", s4, ")")
        out[m] = txt.to_pandas().to_numpy()[m]
    return _fallback2(out, m, a, b, scalar_fn)


def shortest_line(a: pd.Series, b: pd.Series, scalar_fn) -> pd.Series:
    n = len(a)
    ba, bb = batch_of(a), batch_of(b)
    mp, gp = ba.extract(FPOINT2)
    mr, corners = _rect_corners(bb)
    px, py = _num(gp, 0), _num(gp, 1)
    (ax, blo), (cx_, _), (_, bhi), _ = corners
    # claim only points STRICTLY outside the bbox: point_in_polygon is
    # certainly False there, so the scalar goes straight to _closest_pair
    outside = (px < ax) | (px > cx_) | (py < blo) | (py > bhi)
    m = mp & mr & outside
    out = np.full(n, None, dtype=object)
    if m.any():
        # ring segments of the STORED walk in order; replicate the strict-<
        # argmin of _closest_pair pass 1 (pass 2, vertex-to-point, can
        # never be strictly smaller — vertices lie on the segments)
        gb, ccwb, cwb, _ = L._poly5_walks(bb)
        xs = [_num(gb, 0), _num(gb, 2), _num(gb, 4), _num(gb, 6)]
        ys = [_num(gb, 1), _num(gb, 3), _num(gb, 5), _num(gb, 7)]
        bd2 = np.full(n, np.inf)
        bcx = np.zeros(n)
        bcy = np.zeros(n)
        for i in range(4):
            sx1, sy1 = xs[i], ys[i]
            sx2, sy2 = xs[(i + 1) % 4], ys[(i + 1) % 4]
            dx, dy = sx2 - sx1, sy2 - sy1
            ln2 = dx * dx + dy * dy
            with np.errstate(invalid="ignore", divide="ignore"):
                t = np.where(ln2 == 0, 0.0, np.maximum(
                    0.0, np.minimum(
                        1.0, ((px - sx1) * dx + (py - sy1) * dy) / ln2)))
            cx = sx1 + t * dx
            cy = sy1 + t * dy
            d2 = (px - cx) ** 2 + (py - cy) ** 2
            take = d2 < bd2
            bd2 = np.where(take, d2, bd2)
            bcx = np.where(take, cx, bcx)
            bcy = np.where(take, cy, bcy)
        s1, o1 = fmt_f64(px)
        s2, o2 = fmt_f64(py)
        s3, o3 = fmt_f64(bcx)
        s4, o4 = fmt_f64(bcy)
        m = m & o1 & o2 & o3 & o4
        txt = _join("LINESTRING (", s1, " ", s2, ", ", s3, " ", s4, ")")
        out[m] = txt.to_pandas().to_numpy()[m]
    return _fallback2(out, m, a, b, scalar_fn)


def hausdorff(a: pd.Series, b: pd.Series, scalar_fn) -> pd.Series:
    n = len(a)
    ba, bb = batch_of(a), batch_of(b)
    ma, ga = ba.extract(FLINE2)
    mb, gb = bb.extract(FLINE2)
    m = ma & mb
    out = np.full(n, None, dtype=object)
    if m.any():
        pa_ = [(_num(ga, 0), _num(ga, 1)), (_num(ga, 2), _num(ga, 3))]
        pb_ = [(_num(gb, 0), _num(gb, 1)), (_num(gb, 2), _num(gb, 3))]

        def seg_pt_d2(px, py, x1, y1, x2, y2):
            dx, dy = x2 - x1, y2 - y1
            ln2 = dx * dx + dy * dy
            with np.errstate(invalid="ignore", divide="ignore"):
                t = np.where(ln2 == 0, 0.0, np.maximum(
                    0.0, np.minimum(
                        1.0,
                        ((px - x1) * dx + (py - y1) * dy) / ln2)))
            cx, cy = x1 + t * dx, y1 + t * dy
            return (px - cx) ** 2 + (py - cy) ** 2

        h = np.zeros(n)
        for (src, dst) in ((pa_, pb_), (pb_, pa_)):
            (x1, y1), (x2, y2) = dst
            for (vx, vy) in src:
                d = np.sqrt(seg_pt_d2(vx, vy, x1, y1, x2, y2))
                h = np.maximum(h, d)
        out[m] = h[m]
    return _fallback2(out, m, a, b, scalar_fn)


def frechet(a: pd.Series, b: pd.Series, scalar_fn) -> pd.Series:
    n = len(a)
    ba, bb = batch_of(a), batch_of(b)
    ma, ga = ba.extract(FLINE2)
    mb, gb = bb.extract(FLINE2)
    m = ma & mb
    out = np.full(n, None, dtype=object)
    if m.any():
        ax1, ay1, ax2, ay2 = (_num(ga, i) for i in range(4))
        bx1, by1, bx2, by2 = (_num(gb, i) for i in range(4))
        hyp = math.hypot
        for i in np.nonzero(m)[0]:
            d00 = hyp(ax1[i] - bx1[i], ay1[i] - by1[i])
            d01 = hyp(ax1[i] - bx2[i], ay1[i] - by2[i])
            d10 = hyp(ax2[i] - bx1[i], ay2[i] - by1[i])
            d11 = hyp(ax2[i] - bx2[i], ay2[i] - by2[i])
            # the 2x2 coupling DP, scalar order
            c0 = max(0.0, d00)
            c1 = max(c0, d01)
            r0 = max(c0, d10)
            r1 = max(min(c1, c0, r0), d11)
            out[i] = r1
    return _fallback2(out, m, a, b, scalar_fn)


def bounding_diagonal(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    closed, xs, ys = _fpoly5_closed(f.b)
    m2, g2 = f.b.extract(FLINE2)
    for which in ("poly", "line"):
        if which == "poly":
            m = closed
            if not m.any():
                continue
            mnx = np.minimum(np.minimum(xs[0], xs[1]),
                             np.minimum(xs[2], xs[3]))
            mxx = np.maximum(np.maximum(xs[0], xs[1]),
                             np.maximum(xs[2], xs[3]))
            mny = np.minimum(np.minimum(ys[0], ys[1]),
                             np.minimum(ys[2], ys[3]))
            mxy = np.maximum(np.maximum(ys[0], ys[1]),
                             np.maximum(ys[2], ys[3]))
        else:
            m = m2 & ~f.claimed
            if not m.any():
                continue
            x1, y1, x2, y2 = (_num(g2, i) for i in range(4))
            mnx, mxx = np.minimum(x1, x2), np.maximum(x1, x2)
            mny, mxy = np.minimum(y1, y2), np.maximum(y1, y2)
        s1, o1 = fmt_f64(mnx)
        s2, o2 = fmt_f64(mny)
        s3, o3 = fmt_f64(mxx)
        s4, o4 = fmt_f64(mxy)
        txt = _join("LINESTRING (", s1, " ", s2, ", ", s3, " ", s4, ")")
        f.put(m & o1 & o2 & o3 & o4, txt)
    return f.finish(scalar_fn)


# --------------------------------------------------------- shape tests

def _rect_ring_walks(b: _Batch):
    """LINESTRING 5-pt closed rect walks (the `ring` fixture): same
    structural classification as lanes._poly5_walks, on FLINE5."""
    valid, g = b.extract(FLINE5)
    if not valid.any():
        z = np.zeros(len(b.s), bool)
        return g, z, z
    xs = [_num(g, 2 * i) for i in range(5)]
    ys = [_num(g, 2 * i + 1) for i in range(5)]
    closed = valid & (xs[4] == xs[0]) & (ys[4] == ys[0])
    rectish = closed & (ys[1] == ys[0]) & (xs[2] == xs[1]) \
        & (ys[3] == ys[2]) & (xs[3] == xs[0])
    ccw = rectish & (xs[1] > xs[0]) & (ys[2] > ys[0])
    cw = rectish & (xs[1] > xs[0]) & (ys[0] > ys[2])
    return g, ccw, cw


def _bowtie4(b: _Batch):
    """LINESTRING (A B, C D, A D, C B) with C>A, D>B: segments 1 and 3
    properly cross away from shared endpoints -> never simple."""
    valid, g = b.extract(ILINE4)
    if not valid.any():
        return np.zeros(len(b.s), bool)
    x = [_num(g, 2 * i) for i in range(4)]
    y = [_num(g, 2 * i + 1) for i in range(4)]
    return (valid & (x[2] == x[0]) & (y[2] == y[1]) & (x[3] == x[1])
            & (y[3] == y[0]) & (x[1] > x[0]) & (y[1] > y[0]))


def is_closed(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    m2, g2 = f.b.extract(FLINE2)
    if m2.any():
        x1, y1, x2, y2 = (_num(g2, i) for i in range(4))
        f.put(m2, ((x1 == x2) & (y1 == y2)).astype(object))
    m3, g3 = f.b.extract(FLINE3)
    if m3.any():
        x1, y1 = _num(g3, 0), _num(g3, 1)
        x3, y3 = _num(g3, 4), _num(g3, 5)
        f.put(m3, np.where((x1 == x3) & (y1 == y3), True,
                           False).astype(object))
    v5, g5 = f.b.extract(FLINE5)
    if v5.any():
        x1, y1 = _num(g5, 0), _num(g5, 1)
        x5, y5 = _num(g5, 8), _num(g5, 9)
        f.put(v5, np.where((x1 == x5) & (y1 == y5), True,
                           False).astype(object))
    # non-lineal canonical classes are closed by convention
    for pat in (FPOINT2, FPOINTZ, FPOLY5, FMPOINT_ANY):
        f.put(f.b.match(pat), True)
    return f.finish(scalar_fn)


def is_simple(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    m2, g2 = f.b.extract(FLINE2)
    if m2.any():
        # a single segment has no pair checks -> always simple
        f.put(m2, True)
    f.put(_bowtie4(f.b), False)
    _, rccw, rcw = _rect_ring_walks(f.b)
    f.put(rccw | rcw, True)
    return f.finish(scalar_fn)


def is_ring(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    _, rccw, rcw = _rect_ring_walks(f.b)
    f.put(rccw | rcw, True)
    m2, g2 = f.b.extract(FLINE2)
    if m2.any():
        x1, y1, x2, y2 = (_num(g2, i) for i in range(4))
        f.put(m2 & ((x1 != x2) | (y1 != y2)), False)  # open -> not a ring
    f.put(_bowtie4(f.b), False)                       # open walk
    return f.finish(scalar_fn)


def point_on_surface(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    m, corners = _rect_corners(f.b)
    if m.any():
        (ax, blo), (cx, _), (_, bhi), _ = corners
        bx = (ax + cx) / 2.0
        y0 = (blo + bhi) / 2.0
        s1, o1 = fmt_f64(bx)
        s2, o2 = fmt_f64(y0)
        f.put(m & o1 & o2, _join("POINT (", s1, " ", s2, ")"))
    m2, g2 = f.b.extract(FPOINT2)
    if m2.any():
        s1, o1 = fmt_f64(_num(g2, 0))
        s2, o2 = fmt_f64(_num(g2, 1))
        f.put(m2 & o1 & o2, _join("POINT (", s1, " ", s2, ")"))
    return f.finish(scalar_fn)


def min_bounding_radius_val(s: pd.Series, scalar_fn) -> pd.Series:
    """Radius of the MEC for int-rect POLY5 walks: the Welzl trace on the
    hull order [(A,B),(C,B),(C,D),(A,D)] resolves to the diagonal circle
    _circle_2((A,B),(C,D)) provided (C,D) robustly fails the bottom-edge
    in-circle test — margin-gated; near-degenerate rects fall back."""
    n = len(s)
    f = _Fill(s)
    m, corners = _rect_corners(f.b)
    if m.any():
        (ax, blo), (cx, _), (_, bhi), _ = corners
        w = cx - ax
        h = bhi - blo
        # in-circle predicate of h2=(C,D) vs the bottom-edge circle
        # (center ((A+C)/2, B), r=w/2), with a safety margin: claim only
        # rows decided OUTSIDE by a wide gap
        r1 = w / 2.0
        d2_out = r1 * r1 + h * h            # squared dist, exact ints
        thresh = (r1 * (1 + 1e-9) + 1e-9) ** 2
        m = m & (h > 0) & (w > 0) & (d2_out > thresh * (1 + 1e-6) + 1e-6)
        if m.any():
            mx = (ax + cx) / 2.0            # _circle_2 op order
            my = (blo + bhi) / 2.0
            vals = np.full(n, None, dtype=object)
            hyp = math.hypot
            axl, bll, mxl, myl = ax, blo, mx, my
            for i in np.nonzero(m)[0]:
                vals[i] = hyp(axl[i] - mxl[i], bll[i] - myl[i])
            f.put(m, vals)
    return f.finish(scalar_fn)


def geometric_median(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    valid, g = f.b.extract(IMPOINT4)
    if valid.any():
        x = [_num(g, 2 * i) for i in range(4)]
        y = [_num(g, 2 * i + 1) for i in range(4)]
        # the rect-corner walk (A B, C B, C D, A D)
        m = (valid & (x[2] == x[1]) & (y[1] == y[0]) & (x[3] == x[0])
             & (y[3] == y[2]) & (x[1] > x[0]) & (y[2] > y[0]))
        if m.any():
            cx = ((x[0] + x[1]) + x[2] + x[3]) / 4.0
            cy = ((y[0] + y[1]) + y[2] + y[3]) / 4.0
            scale = np.maximum(1.0, np.maximum(
                np.maximum(np.abs(x[0]) + np.abs(y[0]),
                           np.abs(x[1]) + np.abs(y[1])),
                np.maximum(np.abs(x[2]) + np.abs(y[2]),
                           np.abs(x[3]) + np.abs(y[3]))))
            # first Weiszfeld iterate; all four weights equal by symmetry
            d = [np.hypot(x[i] - cx, y[i] - cy) for i in range(4)]
            wts = [1.0 / di for di in d]
            num_x = ((x[0] * wts[0] + x[1] * wts[1]) + x[2] * wts[2]) \
                + x[3] * wts[3]
            num_y = ((y[0] * wts[0] + y[1] * wts[1]) + y[2] * wts[2]) \
                + y[3] * wts[3]
            den = ((wts[0] + wts[1]) + wts[2]) + wts[3]
            nx, ny = num_x / den, num_y / den
            drift = np.hypot(nx - cx, ny - cy)
            # claim only rows where (a) no corner trips the zero-weight
            # guard, (b) the loop provably breaks at iteration 1 (wide
            # margin below tol), (c) the center strictly beats every
            # corner in the argmin finish
            dmin = np.minimum(np.minimum(d[0], d[1]),
                              np.minimum(d[2], d[3]))
            total_c = ((d[0] + d[1]) + d[2]) + d[3]
            wv = x[1] - x[0]
            hv = y[2] - y[0]
            diag = np.hypot(wv, hv)
            corner_total = wv + hv + diag   # identical for all 4 corners
            m = (m & (dmin > 1e-6 * scale) & (drift < 0.5e-12 * scale)
                 & (corner_total - total_c > 1e-9 * scale))
            if m.any():
                s1, o1 = fmt_f64(cx)
                s2, o2 = fmt_f64(cy)
                f.put(m & o1 & o2, _join("POINT (", s1, " ", s2, ")"))
    return f.finish(scalar_fn)


def line_substring(s: pd.Series, f1: pd.Series, f2: pd.Series,
                   scalar_fn) -> pd.Series:
    a = _npnum(f1)
    b = _npnum(f2)
    ok = ~np.isnan(a) & ~np.isnan(b)
    a = np.minimum(1.0, np.maximum(0.0, a))
    b = np.minimum(1.0, np.maximum(0.0, b))
    f = _Fill(s)
    m, g = f.b.extract(FLINE2)
    m = m & ok & (a < b)          # f1 == f2 (interpolate) -> scalar
    if m.any():
        x1, y1, x2, y2 = (_num(g, i) for i in range(4))
        vals = np.full(len(s), None, dtype=object)
        hyp = math.hypot
        idx = np.nonzero(m)[0]
        p1x = np.zeros(len(s))
        p1y = np.zeros(len(s))
        p2x = np.zeros(len(s))
        p2y = np.zeros(len(s))
        good = np.zeros(len(s), bool)
        for i in idx:
            total = hyp(x2[i] - x1[i], y2[i] - y1[i])
            if total == 0.0:
                continue

            def at(frac):
                target = frac * total
                t = min(1.0, (target - 0.0) / total)
                return (x1[i] + t * (x2[i] - x1[i]),
                        y1[i] + t * (y2[i] - y1[i]))

            q1 = at(a[i])
            q2 = at(b[i])
            if q1 == q2:          # degenerates to a POINT -> scalar
                continue
            p1x[i], p1y[i] = q1
            p2x[i], p2y[i] = q2
            good[i] = True
        if good.any():
            s1, o1 = fmt_f64(p1x)
            s2, o2 = fmt_f64(p1y)
            s3, o3 = fmt_f64(p2x)
            s4, o4 = fmt_f64(p2y)
            txt = _join("LINESTRING (", s1, " ", s2, ", ", s3, " ",
                        s4, ")")
            f.put(good & o1 & o2 & o3 & o4, txt)
    out = pd.Series(f.out, index=s.index, dtype=object)
    rest = pd.Series(~f.claimed, index=s.index)
    if rest.any():
        out[rest] = pd.Series(
            [None if g_ is None or pd.isna(va) or pd.isna(vb)
             else scalar_fn(g_, float(va), float(vb))
             for g_, va, vb in zip(s[rest], f1[rest], f2[rest])],
            index=s[rest].index, dtype=object)
    return out


def segmentize(s: pd.Series, mlen: pd.Series, scalar_fn) -> pd.Series:
    """Int-rect POLY5 walks: skip the parse, build the densified ring
    per row from the pre-parsed ints with the scalar's exact formulas
    (k = ceil(len/m - 1e-12) equal parts per edge, kernel _fmt per
    coordinate)."""
    from ..kernel.geom import _fmt

    mn = _npnum(mlen)
    f = _Fill(s)
    g, ccw, cw, _ = L._poly5_walks(f.b)
    with np.errstate(invalid="ignore"):
        m = (ccw | cw) & (mn > 0)
    if m.any():
        xs = [_num(g, 0), _num(g, 2), _num(g, 4), _num(g, 6)]
        ys = [_num(g, 1), _num(g, 3), _num(g, 5), _num(g, 7)]
        vals = np.full(len(s), None, dtype=object)
        ceil = math.ceil
        for i in np.nonzero(m)[0]:
            ring = [(xs[j][i], ys[j][i]) for j in range(4)]
            pts = ring + [ring[0]]
            ml = mn[i]
            # int fast path: axis-aligned integer edges whose split count
            # divides the edge produce PURE INTEGER vertices, where _fmt
            # is exactly str(int) — build the text from ints directly
            # (~6x cheaper than per-coordinate _fmt)
            edges = []
            exact = True
            for p, q in zip(pts, pts[1:]):
                dx = q[0] - p[0]
                dy = q[1] - p[1]
                ln = math.hypot(dx, dy)
                k = max(1, ceil(ln / ml - 1e-12))
                di = int(dx)
                dj = int(dy)
                if dx != di or dy != dj or di % k or dj % k:
                    exact = False
                    break
                edges.append((int(p[0]), int(p[1]), di // k, dj // k, k))
            if exact:
                parts = []
                for (px, py, sx, sy, k) in edges:
                    for j in range(k):
                        parts.append(f"{px + sx * j} {py + sy * j}")
                parts.append(f"{edges[0][0]} {edges[0][1]}")
                vals[i] = "POLYGON ((" + ", ".join(parts) + "))"
                continue
            out = [pts[0]]
            for p, q in zip(pts, pts[1:]):
                ln = math.hypot(q[0] - p[0], q[1] - p[1])
                k = max(1, ceil(ln / ml - 1e-12))
                for j in range(1, k):
                    out.append((p[0] + (q[0] - p[0]) * j / k,
                                p[1] + (q[1] - p[1]) * j / k))
                out.append(q)
            body = ", ".join(f"{_fmt(px)} {_fmt(py)}" for px, py in out)
            vals[i] = f"POLYGON (({body}))"
        f.put(m, vals)

    def row(g_, v):
        return None if g_ is None or pd.isna(v) else scalar_fn(g_, float(v))

    return _fallback2(f.out, f.claimed, s, mlen, row)


def segmentize_npoints(s: pd.Series, mlen: pd.Series,
                       scalar_fn) -> pd.Series:
    """Fused ST_NPoints(ST_Segmentize(g, m)) (r13, VERDICT r12 item 4):
    the vertex COUNT of the densified ring is 1 + Σ_edges max(1,
    ceil(len/m - 1e-12)) — pure numeric, so the lane never materializes
    the (potentially thousands-of-vertices) densified text the separate
    segmentize + npoints stages build and re-parse. Same POLY5 gate and
    per-edge k law as the segmentize lane; everything else falls back to
    the scalar composition."""
    mn = _npnum(mlen)
    f = _Fill(s)
    g, ccw, cw, _ = L._poly5_walks(f.b)
    with np.errstate(invalid="ignore"):
        m = (ccw | cw) & (mn > 0)
    if m.any():
        xs = [_num(g, 0), _num(g, 2), _num(g, 4), _num(g, 6)]
        ys = [_num(g, 1), _num(g, 3), _num(g, 5), _num(g, 7)]
        total = np.ones(len(s), dtype=np.float64)
        for j in range(4):
            dx = xs[(j + 1) % 4] - xs[j]
            dy = ys[(j + 1) % 4] - ys[j]
            ln = np.hypot(dx, dy)
            with np.errstate(invalid="ignore", divide="ignore"):
                k = np.maximum(1.0, np.ceil(ln / mn - 1e-12))
            total = total + k
        vals = np.full(len(s), None, dtype=object)
        idx = np.nonzero(m)[0]
        for i in idx:
            vals[i] = int(total[i])
        f.put(m, vals)

    def row(g_, v):
        return None if g_ is None or pd.isna(v) else scalar_fn(g_, float(v))

    return _fallback2(f.out, f.claimed, s, mlen, row)


def collection_extract(s: pd.Series, d: pd.Series, scalar_fn) -> pd.Series:
    dn = _npnum(d)
    f = _Fill(s)
    valid, gs = f.b.extract(IGC_PPL)
    if valid.any():
        f.put(valid & (dn == 1),
              _join("MULTIPOINT (", gs[0], " ", gs[1], ", ", gs[2], " ",
                    gs[3], ")"))
        f.put(valid & (dn == 2),
              _join("MULTILINESTRING ((", gs[4], " ", gs[5], ", ", gs[6],
                    " ", gs[7], "))"))
        f.put(valid & (dn == 3), "MULTIPOLYGON EMPTY")

    def row(g_, v):
        return None if g_ is None or pd.isna(v) else scalar_fn(g_, int(v))

    return _fallback2(f.out, f.claimed, s, d, row)


def simplify(s: pd.Series, tol: pd.Series, scalar_fn) -> pd.Series:
    tn = _npnum(tol)
    ok = ~np.isnan(tn)
    f = _Fill(s)
    m3, g3 = f.b.extract(FLINE3)
    m3 = m3 & ok
    if m3.any():
        ax, ay, mx_, my_, bx, by = (_num(g3, i) for i in range(6))
        dx, dy = bx - ax, by - ay
        seg2 = dx * dx + dy * dy
        ex, ey = mx_ - ax, my_ - ay
        with np.errstate(invalid="ignore", divide="ignore"):
            cross = dx * (my_ - ay) - dy * (mx_ - ax)
            d2 = np.where(seg2 == 0.0, ex * ex + ey * ey,
                          cross * cross / seg2)
        keep_mid = d2 > tn * tn
        s1, o1 = fmt_f64(ax)
        s2, o2 = fmt_f64(ay)
        s3_, o3 = fmt_f64(mx_)
        s4, o4 = fmt_f64(my_)
        s5, o5 = fmt_f64(bx)
        s6, o6 = fmt_f64(by)
        oks = o1 & o2 & o5 & o6
        drop = m3 & ~keep_mid & oks
        if drop.any():
            f.put(drop, _join("LINESTRING (", s1, " ", s2, ", ", s5, " ",
                              s6, ")"))
        keep = m3 & keep_mid & oks & o3 & o4
        if keep.any():
            f.put(keep, _join("LINESTRING (", s1, " ", s2, ", ", s3_, " ",
                              s4, ", ", s5, " ", s6, ")"))
    m2, g2 = f.b.extract(FLINE2)
    m2 = m2 & ok & ~f.claimed
    if m2.any():
        s1, o1 = fmt_f64(_num(g2, 0))
        s2, o2 = fmt_f64(_num(g2, 1))
        s3_, o3 = fmt_f64(_num(g2, 2))
        s4, o4 = fmt_f64(_num(g2, 3))
        f.put(m2 & o1 & o2 & o3 & o4,
              _join("LINESTRING (", s1, " ", s2, ", ", s3_, " ", s4, ")"))

    def row(g_, v):
        return None if g_ is None or pd.isna(v) else scalar_fn(g_, float(v))

    return _fallback2(f.out, f.claimed, s, tol, row)


# --------------------------------------------------------- line editors

def add_point(line: pd.Series, pt: pd.Series, pos: pd.Series,
              scalar_fn) -> pd.Series:
    pn = _npnum(pos)
    n = len(line)
    bl, bp = batch_of(line), batch_of(pt)
    ml, gl = bl.extract(FLINE2)
    mp, gp = bp.extract(FPOINT2)
    m = ml & mp & ~np.isnan(pn)
    out = np.full(n, None, dtype=object)
    claimed = np.zeros(n, bool)
    if m.any():
        x1, y1, x2, y2 = (_num(gl, i) for i in range(4))
        px, py = _num(gp, 0), _num(gp, 1)
        s1, o1 = fmt_f64(x1)
        s2, o2 = fmt_f64(y1)
        s3, o3 = fmt_f64(x2)
        s4, o4 = fmt_f64(y2)
        s5, o5 = fmt_f64(px)
        s6, o6 = fmt_f64(py)
        oks = o1 & o2 & o3 & o4 & o5 & o6
        append = m & oks & ((pn == -1) | (pn >= 2))
        if append.any():
            txt = _join("LINESTRING (", s1, " ", s2, ", ", s3, " ", s4,
                        ", ", s5, " ", s6, ")")
            arr = txt.to_pandas().to_numpy()
            out[append] = arr[append]
            claimed |= append
        ins0 = m & oks & (pn == 0)
        if ins0.any():
            txt = _join("LINESTRING (", s5, " ", s6, ", ", s1, " ", s2,
                        ", ", s3, " ", s4, ")")
            arr = txt.to_pandas().to_numpy()
            out[ins0] = arr[ins0]
            claimed |= ins0
        ins1 = m & oks & (pn == 1)
        if ins1.any():
            txt = _join("LINESTRING (", s1, " ", s2, ", ", s5, " ", s6,
                        ", ", s3, " ", s4, ")")
            arr = txt.to_pandas().to_numpy()
            out[ins1] = arr[ins1]
            claimed |= ins1
    outs = pd.Series(out, index=line.index, dtype=object)
    rest = pd.Series(~claimed, index=line.index)
    if rest.any():
        outs[rest] = pd.Series(
            [None if a is None or b is None or pd.isna(i)
             else scalar_fn(a, b, int(i))
             for a, b, i in zip(line[rest], pt[rest], pos[rest])],
            index=line[rest].index, dtype=object)
    return outs


def remove_point(line: pd.Series, pos: pd.Series, scalar_fn) -> pd.Series:
    pn = _npnum(pos)
    f = _Fill(line)
    m3, g3 = f.b.extract(FLINE3)
    m = m3 & ~np.isnan(pn) & (pn >= 0) & (pn <= 2)
    if m.any():
        strs, oks = [], None
        for i in range(6):
            sv, okv = fmt_f64(_num(g3, i))
            strs.append(sv)
            oks = okv if oks is None else oks & okv
        pairs = [(strs[0], strs[1]), (strs[2], strs[3]),
                 (strs[4], strs[5])]
        for drop in range(3):
            mm = m & oks & (pn == drop)
            if not mm.any():
                continue
            keep = [pairs[j] for j in range(3) if j != drop]
            f.put(mm, _join("LINESTRING (", keep[0][0], " ", keep[0][1],
                            ", ", keep[1][0], " ", keep[1][1], ")"))
    # a 2-point line cannot lose a vertex -> NULL
    m2 = f.b.match(FLINE2) & ~np.isnan(pn)
    f.put(m2, None)

    def row(a, i):
        return None if a is None or pd.isna(i) else scalar_fn(a, int(i))

    return _fallback2(f.out, f.claimed, line, pos, row)


def set_point(line: pd.Series, pos: pd.Series, pt: pd.Series,
              scalar_fn) -> pd.Series:
    pn = _npnum(pos)
    n = len(line)
    bl, bp = batch_of(line), batch_of(pt)
    ml, gl = bl.extract(FLINE2)
    mp, gp = bp.extract(FPOINT2)
    idx = np.where(pn < 0, pn + 2, pn)      # 2-point path
    m = ml & mp & ~np.isnan(pn) & (idx >= 0) & (idx <= 1)
    out = np.full(n, None, dtype=object)
    claimed = np.zeros(n, bool)
    if m.any():
        s1, o1 = fmt_f64(_num(gl, 0))
        s2, o2 = fmt_f64(_num(gl, 1))
        s3, o3 = fmt_f64(_num(gl, 2))
        s4, o4 = fmt_f64(_num(gl, 3))
        s5, o5 = fmt_f64(_num(gp, 0))
        s6, o6 = fmt_f64(_num(gp, 1))
        oks = o1 & o2 & o3 & o4 & o5 & o6
        first = m & oks & (idx == 0)
        if first.any():
            arr = _join("LINESTRING (", s5, " ", s6, ", ", s3, " ", s4,
                        ")").to_pandas().to_numpy()
            out[first] = arr[first]
            claimed |= first
        last = m & oks & (idx == 1)
        if last.any():
            arr = _join("LINESTRING (", s1, " ", s2, ", ", s5, " ", s6,
                        ")").to_pandas().to_numpy()
            out[last] = arr[last]
            claimed |= last
    outs = pd.Series(out, index=line.index, dtype=object)
    rest = pd.Series(~claimed, index=line.index)
    if rest.any():
        outs[rest] = pd.Series(
            [None if a is None or b is None or pd.isna(i)
             else scalar_fn(a, int(i), b)
             for a, i, b in zip(line[rest], pos[rest], pt[rest])],
            index=line[rest].index, dtype=object)
    return outs


def snap(g: pd.Series, ref: pd.Series, tol: pd.Series,
         scalar_fn) -> pd.Series:
    tn = _npnum(tol)
    n = len(g)
    bg, br = batch_of(g), batch_of(ref)
    ml, gl = bg.extract(FLINE2)
    mp, gp = br.extract(FPOINT2)
    m = ml & mp & ~np.isnan(tn)
    out = np.full(n, None, dtype=object)
    claimed = np.zeros(n, bool)
    if m.any():
        x1, y1, x2, y2 = (_num(gl, i) for i in range(4))
        rx, ry = _num(gp, 0), _num(gp, 1)
        scale = np.maximum(1.0, np.maximum(np.abs(x1) + np.abs(y1),
                                           np.abs(x2) + np.abs(y2)))
        # phase 1: vertex snap — margin-gated tolerance predicates
        d1 = np.hypot(rx - x1, ry - y1)
        d2 = np.hypot(rx - x2, ry - y2)
        margin = 1e-9 * scale + 1e-12
        decided = (np.abs(d1 - tn) > margin) & (np.abs(d2 - tn) > margin)
        nx1 = np.where(d1 <= tn, rx, x1)
        ny1 = np.where(d1 <= tn, ry, y1)
        nx2 = np.where(d2 <= tn, rx, x2)
        ny2 = np.where(d2 <= tn, ry, y2)
        # phase 2: segment insertion of the ref vertex
        dx, dy = nx2 - nx1, ny2 - ny1
        ln2 = dx * dx + dy * dy
        with np.errstate(invalid="ignore", divide="ignore"):
            t = ((rx - nx1) * dx + (ry - ny1) * dy) / ln2
        ref_is_end = ((rx == nx1) & (ry == ny1)) \
            | ((rx == nx2) & (ry == ny2))
        cx = nx1 + t * dx
        cy = ny1 + t * dy
        dseg = np.hypot(rx - cx, ry - cy)
        seg_decided = ref_is_end | ~((t > 0.0) & (t < 1.0)) \
            | (np.abs(dseg - tn) > margin)
        insert = (ln2 > 0) & ~ref_is_end & (t > 0.0) & (t < 1.0) \
            & (dseg <= tn)
        distinct = (nx1 != nx2) | (ny1 != ny2)
        m = m & decided & seg_decided & distinct
        s1, o1 = fmt_f64(nx1)
        s2, o2 = fmt_f64(ny1)
        s3, o3 = fmt_f64(nx2)
        s4, o4 = fmt_f64(ny2)
        s5, o5 = fmt_f64(rx)
        s6, o6 = fmt_f64(ry)
        oks = o1 & o2 & o3 & o4
        plain = m & ~insert & oks
        if plain.any():
            arr = _join("LINESTRING (", s1, " ", s2, ", ", s3, " ", s4,
                        ")").to_pandas().to_numpy()
            out[plain] = arr[plain]
            claimed |= plain
        withref = m & insert & oks & o5 & o6
        if withref.any():
            arr = _join("LINESTRING (", s1, " ", s2, ", ", s5, " ", s6,
                        ", ", s3, " ", s4, ")").to_pandas().to_numpy()
            out[withref] = arr[withref]
            claimed |= withref
    outs = pd.Series(out, index=g.index, dtype=object)
    rest = pd.Series(~claimed, index=g.index)
    if rest.any():
        outs[rest] = pd.Series(
            [None if a is None or b is None or pd.isna(v)
             else scalar_fn(a, b, float(v))
             for a, b, v in zip(g[rest], ref[rest], tol[rest])],
            index=g[rest].index, dtype=object)
    return outs


def split(a: pd.Series, b: pd.Series, scalar_fn) -> pd.Series:
    n = len(a)
    ba, bb = batch_of(a), batch_of(b)
    ml, gl = ba.extract(FLINE2)
    mp, gp = bb.extract(FPOINT2)
    m = ml & mp
    out = np.full(n, None, dtype=object)
    claimed = np.zeros(n, bool)
    if m.any():
        x1, y1, x2, y2 = (_num(gl, i) for i in range(4))
        rx, ry = _num(gp, 0), _num(gp, 1)
        dx, dy = x2 - x1, y2 - y1
        ln2 = dx * dx + dy * dy
        with np.errstate(invalid="ignore", divide="ignore"):
            t = ((rx - x1) * dx + (ry - y1) * dy) / ln2
        cx = x1 + t * dx
        cy = y1 + t * dy
        interior = (ln2 > 0) & (t > 0.0) & (t < 1.0)
        # the scalar cuts only on an EXACT hit (hypot == 0.0), which is
        # replicable bit-for-bit: cx == rx and cy == ry
        hit = interior & (cx == rx) & (cy == ry)
        miss = m & (~interior | (cx != rx) | (cy != ry)) \
            & ((x1 != x2) | (y1 != y2))
        s1, o1 = fmt_f64(x1)
        s2, o2 = fmt_f64(y1)
        s3, o3 = fmt_f64(x2)
        s4, o4 = fmt_f64(y2)
        s5, o5 = fmt_f64(rx)
        s6, o6 = fmt_f64(ry)
        oks = o1 & o2 & o3 & o4
        cut = m & hit & oks & o5 & o6
        if cut.any():
            arr = _join("GEOMETRYCOLLECTION (LINESTRING (", s1, " ", s2,
                        ", ", s5, " ", s6, "), LINESTRING (", s5, " ",
                        s6, ", ", s3, " ", s4, "))").to_pandas().to_numpy()
            out[cut] = arr[cut]
            claimed |= cut
        nocut = miss & oks & ~claimed
        if nocut.any():
            arr = _join("GEOMETRYCOLLECTION (LINESTRING (", s1, " ", s2,
                        ", ", s3, " ", s4, "))").to_pandas().to_numpy()
            out[nocut] = arr[nocut]
            claimed |= nocut
    return _fallback2(out, claimed, a, b, scalar_fn)


def geometry_n(s: pd.Series, nn: pd.Series, scalar_fn) -> pd.Series:
    pn = _npnum(nn)
    f = _Fill(s)
    v2, g2 = f.b.extract(FGC2L2)
    if v2.any():
        strs, oks = [], None
        for i in range(8):
            sv, okv = fmt_f64(_num(g2, i))
            strs.append(sv)
            oks = okv if oks is None else oks & okv
        for k in (0, 1):
            mm = v2 & oks & (pn == k)
            if mm.any():
                o = 4 * k
                f.put(mm, _join("LINESTRING (", strs[o], " ",
                                strs[o + 1], ", ", strs[o + 2], " ",
                                strs[o + 3], ")"))
    v1, g1 = f.b.extract(FGC1L2)
    m1 = v1 & (pn == 0) & ~f.claimed
    if m1.any():
        strs, oks = [], None
        for i in range(4):
            sv, okv = fmt_f64(_num(g1, i))
            strs.append(sv)
            oks = okv if oks is None else oks & okv
        f.put(m1 & oks, _join("LINESTRING (", strs[0], " ", strs[1],
                              ", ", strs[2], " ", strs[3], ")"))
    ml, gl = f.b.extract(FLINE2)
    ml = ml & (pn == 0) & ~f.claimed
    if ml.any():
        strs, oks = [], None
        for i in range(4):
            sv, okv = fmt_f64(_num(gl, i))
            strs.append(sv)
            oks = okv if oks is None else oks & okv
        f.put(ml & oks, _join("LINESTRING (", strs[0], " ", strs[1],
                              ", ", strs[2], " ", strs[3], ")"))

    def row(g_, i):
        return None if g_ is None or pd.isna(i) else scalar_fn(g_, int(i))

    return _fallback2(f.out, f.claimed, s, nn, row)


# ------------------------------------------------------- misc constructors

def make_polygon(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    valid, g = f.b.extract(FLINE5)
    if valid.any():
        xs = [_num(g, 2 * i) for i in range(5)]
        ys = [_num(g, 2 * i + 1) for i in range(5)]
        m = valid & (xs[4] == xs[0]) & (ys[4] == ys[0])
        if m.any():
            strs, oks = [], None
            for i in range(4):
                sx, ox = fmt_f64(xs[i])
                sy, oy = fmt_f64(ys[i])
                strs += [sx, sy]
                ok2 = ox & oy
                oks = ok2 if oks is None else oks & ok2
            f.put(m & oks,
                  _join("POLYGON ((", strs[0], " ", strs[1], ", ",
                        strs[2], " ", strs[3], ", ", strs[4], " ",
                        strs[5], ", ", strs[6], " ", strs[7], ", ",
                        strs[0], " ", strs[1], "))"))
    # open linestrings of the canonical classes -> NULL
    v2, g2 = f.b.extract(FLINE2)
    if v2.any():
        x1, y1, x2, y2 = (_num(g2, i) for i in range(4))
        f.put(v2 & ((x1 != x2) | (y1 != y2)), None)
    return f.finish(scalar_fn)


def line_merge(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    valid, g = f.b.extract(L.MLS2)
    if valid.any():
        x = [_num(g, 2 * i) for i in range(4)]
        y = [_num(g, 2 * i + 1) for i in range(4)]
        # clean chain a1 == b0 with every other endpoint distinct: the
        # scalar's first flip combination fires and the joint has degree 2
        j = (x[1] == x[2]) & (y[1] == y[2])
        distinct = ((x[0] != x[1]) | (y[0] != y[1])) \
            & ((x[0] != x[3]) | (y[0] != y[3])) \
            & ((x[3] != x[1]) | (y[3] != y[1]))
        m = valid & j & distinct
        if m.any():
            gs = f.b.extract(L.MLS2)[1]
            f.put(m, _join("LINESTRING (", gs[0], " ", gs[1], ", ",
                           gs[2], " ", gs[3], ", ", gs[6], " ", gs[7],
                           ")"))
    # a singular linestring passes through unchanged (canonical classes)
    m2, g2 = f.b.extract(FLINE2)
    if m2.any():
        strs, oks = [], None
        for i in range(4):
            sv, okv = fmt_f64(_num(g2, i))
            strs.append(sv)
            oks = okv if oks is None else oks & okv
        f.put(m2 & oks, _join("LINESTRING (", strs[0], " ", strs[1],
                              ", ", strs[2], " ", strs[3], ")"))
    return f.finish(scalar_fn)


def remove_repeated_points(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    valid, g = f.b.extract(ILINE4)
    if valid.any():
        x = [_num(g, 2 * i) for i in range(4)]
        y = [_num(g, 2 * i + 1) for i in range(4)]
        e01 = (x[0] == x[1]) & (y[0] == y[1])
        e12 = (x[1] == x[2]) & (y[1] == y[2])
        e23 = (x[2] == x[3]) & (y[2] == y[3])
        gs = f.b.extract(ILINE4)[1]
        # pairwise-duplicate fixture shape (p0 p0 p2 p2) -> p0, p2
        m = valid & e01 & ~e12 & e23
        if m.any():
            f.put(m, _join("LINESTRING (", gs[0], " ", gs[1], ", ",
                           gs[4], " ", gs[5], ")"))
        # all consecutive-distinct -> identity (int text is canonical)
        m2 = valid & ~e01 & ~e12 & ~e23
        f.put(m2, s)
    return f.finish(scalar_fn)


def terminal_point(s: pd.Series, last: bool, scalar_fn) -> pd.Series:
    """ST_StartPoint / ST_EndPoint of canonical 2-3 point LINESTRINGs."""
    f = _Fill(s)
    for pat, npts in ((FLINE2, 2), (FLINE3, 3)):
        m, g = f.b.extract(pat)
        if not m.any():
            continue
        off = 2 * (npts - 1) if last else 0
        sx, ox = fmt_f64(_num(g, off))
        sy, oy = fmt_f64(_num(g, off + 1))
        f.put(m & ox & oy, _join("POINT (", sx, " ", sy, ")"))
    return f.finish(scalar_fn)


def hasz(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    f.put(f.b.match(FPOINTZ), True)
    for pat in (FPOINT2, FPOLY5, FLINE_ANY, FMPOINT_ANY):
        f.put(f.b.match(pat), False)
    return f.finish(scalar_fn)


_SPHERE_R = 6371008.0


def project(s: pd.Series, d: pd.Series, az: pd.Series,
            scalar_fn) -> pd.Series:
    dn = _npnum(d)
    an = _npnum(az)
    f = _Fill(s)
    mp, gp = f.b.extract(FPOINT2)
    lon = _num(gp, 0)
    lat = _num(gp, 1)
    m = mp & ~np.isnan(dn) & ~np.isnan(an) & (lon >= -180.0) \
        & (lon <= 180.0) & (lat >= -90.0) & (lat <= 90.0)
    if m.any():
        lon2 = np.full(len(s), np.nan)
        lat2 = np.full(len(s), np.nan)
        for i in np.nonzero(m)[0]:
            lo1 = math.radians(lon[i])
            la1 = math.radians(lat[i])
            ang = dn[i] / _SPHERE_R
            azi = an[i]
            la2 = math.asin(math.sin(la1) * math.cos(ang)
                            + math.cos(la1) * math.sin(ang)
                            * math.cos(azi))
            lo2 = lo1 + math.atan2(
                math.sin(azi) * math.sin(ang) * math.cos(la1),
                math.cos(ang) - math.sin(la1) * math.sin(la2))
            lon2[i] = math.degrees(lo2)
            lat2[i] = math.degrees(la2)
        s1, o1 = fmt_f64(lon2)
        s2, o2 = fmt_f64(lat2)
        f.put(m & o1 & o2, _join("POINT (", s1, " ", s2, ")"))
    out = pd.Series(f.out, index=s.index, dtype=object)
    rest = pd.Series(~f.claimed, index=s.index)
    if rest.any():
        out[rest] = pd.Series(
            [None if g_ is None or pd.isna(va) or pd.isna(vb)
             else scalar_fn(g_, float(va), float(vb))
             for g_, va, vb in zip(s[rest], d[rest], az[rest])],
            index=s[rest].index, dtype=object)
    return out


def bound_of(s: pd.Series, which: str, scalar_fn) -> pd.Series:
    f = _Fill(s)
    closed, xs, ys = _fpoly5_closed(f.b)
    arrs = xs if which in ("xmin", "xmax") else ys
    lo = which.endswith("min")
    if closed.any():
        acc = arrs[0]
        for v in arrs[1:]:
            acc = np.minimum(acc, v) if lo else np.maximum(acc, v)
        f.put(closed, acc)
    m2, g2 = f.b.extract(FLINE2)
    if m2.any():
        a = _num(g2, 0 if which[0] == "x" else 1)
        b = _num(g2, 2 if which[0] == "x" else 3)
        f.put(m2, np.minimum(a, b) if lo else np.maximum(a, b))
    mp, gp = f.b.extract(FPOINT2)
    if mp.any():
        f.put(mp, _num(gp, 0 if which[0] == "x" else 1))
    return f.finish(scalar_fn)


def num_geometries(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    f.put(f.b.match(FGC2L2), 2)
    f.put(f.b.match(FGC1L2), 1)
    f.put(f.b.match(L.GCPOINT), 1)
    f.put(f.b.match(L.MLS2), 2)
    f.put(f.b.match(_GC2LINE), 2)
    for pat in (FLINE_ANY, FPOINT2, FPOINTZ, FPOLY5):
        f.put(f.b.match(pat), 1)
    m = f.b.match(FMPOINT_ANY)
    if m.any():
        commas = pc.count_substring(f.b.arr, pattern=",").fill_null(
            0).to_numpy(zero_copy_only=False).astype(np.int64)
        f.put(m, commas + 1)
    return f.finish(scalar_fn)
