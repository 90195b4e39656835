"""Vectorized canonical-text lanes for the r9 scalar name batch (r10).

The three slowest scalar surfaces of the engine (`st_orientation_ops`
5.5 s, `st_clearance_ops` 6.0 s, `st_from_text_ops` 5.1 s at sf0.1 —
VERDICT r9 item 3) paid a full per-row Python parse + serialize per
geometry even though their inputs are canonical machine-built WKT (JVM
`concat` of integer columns — exactly what `kernel/geomtypes.to_wkt`
emits). This module gives each hot function a BATCH lane, and the lane
machinery itself runs on pyarrow compute kernels (RE2 `extract_regex`
≈ 0.14-0.7 s/600k vs 1.5 s for pandas `str.extract`;
`binary_join_element_wise` ≈ 0.05 s/600k vs ~2 s for pandas object
concatenation), so a laned UDF costs ~1 core-second per 600k rows —
within ~2x of an empty pandas_udf round trip. Rows a lane does not
claim fall back to the unchanged scalar kernel.

One structural extract serves several shapes: every 5-vertex closed
polygon walk (canonical CCW rect, the CW walk ForcePolygonCW emits,
and the bowtie hourglass) matches the same backreference-free
10-number pattern; orientation/shape is then decided by vectorized
string-equality checks on the captured groups (RE2 has no
backreferences — the checks replace them exactly).

Exactness contract (each lane is bit-equal to its scalar twin, pinned
by tests/test_lanes.py):

- coordinates are INTEGER text with |v| < 10^7 < 2^25 (the regex atom
  enforces it), so float conversion is exact, every product/sum stays
  under 2^53 (exact), and sqrt of an exact square returns the exact
  root — closed forms like `area = (c-a)*(d-b)` provably equal the
  scalar shoelace / hypot folds;
- where a formula is irrational (3D projection distances, rotations),
  the lane replicates the scalar's operation ORDER in float64 — IEEE
  +,-,*,/,sqrt are correctly rounded, so numpy == CPython bit-for-bit;
  transcendentals (cos/sin) are taken from math.* per distinct angle,
  never from numpy's vector routines (which may differ in the last ulp);
- text output is built from the captured input digit groups (already
  canonical) or through kernel _fmt for computed values.

These extracts are the engine's one vectorized WKT recogniser: the
hygiene fixed-point masks and rect-predicate bounds
(functions/spatial.py) and the carrier's text edge
(functions/geomb.py) take their masks and groups from `batch_of(s)`
too, so every UDF column of a projection shares one pass per pattern.
"""

from __future__ import annotations

import math
import re as _re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from ..kernel.geom import _fmt

# integer atom: |v| <= 9,999,999 < 2^25 keeps every downstream product
# exact in float64 (see module docstring); larger coordinates simply
# fall back to the scalar kernel
_I = r"(0|-?[1-9]\d{0,6})"


def _named(pattern: str) -> str:
    """RE2 requires named capture groups; number the unnamed ones."""
    cnt = [0]

    def sub(_m):
        cnt[0] += 1
        return f"(?P<g{cnt[0]}>"

    return _re.sub(r"(?<!\\)\((?!\?)", sub, pattern)


#: every canonical 5-vertex closed single-ring polygon walk
POLY5 = _named(
    r"^POLYGON \(\(%s %s, %s %s, %s %s, %s %s, %s %s\)\)$" % ((_I,) * 10))
POINT2 = _named(rf"^POINT \({_I} {_I}\)$")
POINTZ = _named(rf"^POINT Z \({_I} {_I} {_I}\)$")
LINEZ2 = _named(rf"^LINESTRING Z \({_I} {_I} {_I}, {_I} {_I} {_I}\)$")
_IN = r"(?:0|-?[1-9]\d{0,6})"           # non-capturing int atom
_P = rf"{_IN} {_IN}"                    # non-capturing pair
MPOINT = _named(rf"^MULTIPOINT \(({_P}(?:, {_P})+)\)$")
GCPOINT = _named(rf"^GEOMETRYCOLLECTION \(POINT \({_I} {_I}\)\)$")
MLS2 = _named(rf"^MULTILINESTRING \(\({_I} {_I}, {_I} {_I}\), "
              rf"\({_I} {_I}, {_I} {_I}\)\)$")
LINE_INTS = _named(rf"^LINESTRING \(({_P}(?:, {_P})+)\)$")
_LS = rf"\({_P}(?:, {_P})+\)"
#: integer MULTILINESTRING, >= 2 members of >= 2 points each
MLS_INTS = _named(rf"^MULTILINESTRING \(({_LS}(?:, {_LS})+)\)$")
MPOLY5 = _named(
    r"^MULTIPOLYGON \(\(\(%s %s, %s %s, %s %s, %s %s, %s %s\)\)\)$"
    % ((_I,) * 10))
PAIR_CSV = _named(rf"^{_I},{_I}$")
PAIRS_CSV = _named(rf"^({_IN},{_IN}(?:,{_IN},{_IN})+)$")


class _Batch:
    """One UDF input column: the arrow view plus memoized extracts, so
    shape classes sharing a structural pattern (the three POLY5 walks)
    pay one regex pass per batch."""

    __slots__ = ("s", "arr", "_memo")

    def __init__(self, s: pd.Series):
        self.s = s
        self.arr = pa.Array.from_pandas(s, type=pa.string())
        self._memo: dict = {}

    def extract(self, pattern: str):
        """(valid ndarray[bool], [group arrow arrays])."""
        hit = self._memo.get(pattern)
        if hit is None:
            r = pc.extract_regex(self.arr, pattern=pattern)
            valid = pc.is_valid(r).to_numpy(zero_copy_only=False)
            ngroups = r.type.num_fields
            g = [pc.struct_field(r, i) for i in range(ngroups)]
            hit = (valid, g)
            self._memo[pattern] = hit
        return hit

    def match(self, pattern: str) -> np.ndarray:
        """Rows the pattern matches. A bare match extracts no groups, which
        costs RE2 a fraction of an extract (~4 vs ~35 ms on 60 k rect
        rows of the 10-group rect pattern); an extract already made
        answers it."""
        hit = self._memo.get(pattern)
        if hit is not None:
            return hit[0]
        key = ("match", pattern)
        m = self._memo.get(key)
        if m is None:
            m = pc.fill_null(pc.match_substring_regex(
                self.arr, pattern=pattern), False).to_numpy(
                    zero_copy_only=False)
            self._memo[key] = m
        return m


#: most-recent _Batch per input-Series identity (r14, guide §4.2): one
#: EvalPythonExec node evaluates EVERY lane-hooked UDF column of a
#: projection against the same materialized batch series, so without
#: sharing, each hook re-ran the arrow conversion and its regex extracts
#: over identical data — profiled at ~1-2 s of pyarrow `extract_regex`
#: per UDF column per 600k rows in st_clearance_ops (16 columns). The
#: memo holds a strong ref to the keyed Series, so its id() cannot be
#: recycled while the entry lives (`b.s is s` is then conclusive). Hits
#: do not reorder the dict, so eviction is oldest-inserted first (FIFO,
#: not LRU); the cap bounds worker memory at a few batches of strings.
_BATCH_MEMO: dict = {}
_BATCH_MEMO_MAX = 16


def batch_of(s: pd.Series) -> _Batch:
    key = id(s)
    b = _BATCH_MEMO.get(key)
    if b is not None and b.s is s:
        return b
    b = _Batch(s)
    _BATCH_MEMO[key] = b
    while len(_BATCH_MEMO) > _BATCH_MEMO_MAX:
        _BATCH_MEMO.pop(next(iter(_BATCH_MEMO)))
    return b


def _eq(g, i, j) -> np.ndarray:
    return pc.fill_null(pc.equal(g[i], g[j]), False).to_numpy(
        zero_copy_only=False)


def _num(g, i) -> np.ndarray:
    """float64 array of a digit group; NaN where unmatched (every
    comparison with NaN is False, which is the safe default)."""
    return pc.cast(g[i], pa.float64()).to_numpy(zero_copy_only=False)


def _body_xy(arr: pa.Array, rows: np.ndarray, head: int, tail: int):
    """(points per row, (k, 2) float64 xy) of the rows of `arr` whose
    text is `head` characters, an "x y, x y, ..." body validated by a
    pattern, and `tail` characters — one slice, split and cast for the
    whole batch, the same correctly rounded parse as _num."""
    body = pc.utf8_slice_codeunits(arr.take(pa.array(rows)), head, -tail)
    parts = pc.split_pattern(pc.replace_substring(body, ", ", " "), " ")
    npts = pc.list_value_length(parts).to_numpy(zero_copy_only=False) // 2
    xy = pc.cast(pc.list_flatten(parts), pa.float64())
    return (npts.astype(np.int64),
            xy.to_numpy(zero_copy_only=False).reshape(-1, 2))


def _join(*parts) -> pa.Array:
    """Vectorized concatenation; null in any part nulls the row."""
    return pc.binary_join_element_wise(*parts, "")


def _poly5_walks(b: _Batch):
    """Classify a 5-vertex polygon extract into the three canonical
    walks. Returns (g, ccw, cw, bow): for ccw/cw, groups are
    p1..p5 = (g0 g1),(g2 g3),(g4 g5),(g6 g7),(g8 g9); the shared
    structural equalities y2==y1, x3==x2, y4==y3, x4==x1 + closure hold
    for both rect walks, orientation decided by y3 vs y1; the bowtie
    has its own equality set. Text equality on the groups is what a
    backreference would test."""
    valid, g = b.extract(POLY5)
    if not valid.any():
        z = np.zeros(len(b.s), bool)
        return g, z, z, z
    closed = _eq(g, 8, 0) & _eq(g, 9, 1)
    rectish = (valid & closed & _eq(g, 3, 1) & _eq(g, 4, 2)
               & _eq(g, 7, 5) & _eq(g, 6, 0))
    x1 = _num(g, 0)
    y1 = _num(g, 1)
    x2 = _num(g, 2)
    y3 = _num(g, 5)
    ccw = rectish & (x2 > x1) & (y3 > y1)
    cw = rectish & (x2 > x1) & (y1 > y3)
    # bowtie A B, C D, C B, A D, A B: x3==x2, y3==y1, x4==x1, y4==y2
    y2 = _num(g, 3)
    bow = (valid & closed & _eq(g, 4, 2) & _eq(g, 5, 1) & _eq(g, 6, 0)
           & _eq(g, 7, 3) & (x2 > x1) & (y2 > y1))
    return g, ccw, cw, bow


class _Fill:
    """Accumulates lane results; rows no lane claimed fall back to the
    scalar kernel. A lane may legitimately claim a row with value None
    (typed-gate mismatches), so claiming is tracked separately."""

    __slots__ = ("s", "b", "out", "claimed")

    def __init__(self, s: pd.Series):
        self.s = s
        self.b = batch_of(s)
        self.out = np.full(len(s), None, dtype=object)
        self.claimed = np.zeros(len(s), bool)

    def put(self, mask: np.ndarray, values) -> None:
        m = mask & ~self.claimed
        if not m.any():
            return
        if isinstance(values, (pa.Array, pa.ChunkedArray)):
            values = values.to_pandas().to_numpy()
        if isinstance(values, pd.Series):
            values = values.to_numpy()
        if isinstance(values, np.ndarray):
            self.out[m] = values[m]
        else:
            self.out[m] = values
        self.claimed |= m

    def finish(self, scalar_fn) -> pd.Series:
        out = pd.Series(self.out, index=self.s.index, dtype=object)
        rest = ~self.claimed
        if rest.any():
            rest_s = pd.Series(rest, index=self.s.index)
            out[rest_s] = self.s[rest_s].map(scalar_fn, na_action="ignore")
        return out


def _fmt_np(v: np.ndarray, mask: np.ndarray) -> np.ndarray:
    """kernel _fmt over the masked positions of a float array. r14: one
    vectorized arrow cast (fmt_f64_full — bit-equal to _fmt for every
    finite value, out-of-window rows patched through _fmt itself)
    replaces the per-row repr loop, which profiled at ~2.3 s/600k in
    the MIC lane alone."""
    out = np.full(len(v), None, dtype=object)
    if mask.any():
        sa, _ = fmt_f64_full(np.where(mask, v, 0.0))
        vals = sa.to_pandas().to_numpy(dtype=object)
        out[mask] = vals[mask]
    return out


# ------------------------------------------------------ orientation lanes

def _cw_text(g) -> pa.Array:
    """The CW walk A D, C D, C B, A B, A D from CCW-walk groups."""
    return _join("POLYGON ((", g[0], " ", g[5], ", ", g[2], " ", g[5],
                 ", ", g[2], " ", g[1], ", ", g[0], " ", g[1], ", ",
                 g[0], " ", g[5], "))")


def _ccw_from_cw_text(g) -> pa.Array:
    """Reverse of the CW walk: with CW groups p1=(A,D) p2=(C,D)
    p3=(C,B) p4=(A,B), the CCW emission is A B, C B, C D, A D, A B."""
    return _join("POLYGON ((", g[0], " ", g[5], ", ", g[2], " ", g[5],
                 ", ", g[2], " ", g[1], ", ", g[0], " ", g[1], ", ",
                 g[0], " ", g[5], "))")


def force_polygon_cw(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    g, ccw, cw, _ = _poly5_walks(f.b)
    if ccw.any():
        f.put(ccw, _cw_text(g))
    f.put(cw, s)                      # already CW: canonical fixed point
    return f.finish(scalar_fn)


def force_polygon_ccw(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    g, ccw, cw, _ = _poly5_walks(f.b)
    f.put(ccw, s)                     # already CCW
    if cw.any():
        f.put(cw, _ccw_from_cw_text(g))
    return f.finish(scalar_fn)


def is_polygon_cw(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    _, ccw, cw, _ = _poly5_walks(f.b)
    f.put(ccw, False)
    f.put(cw, True)
    return f.finish(scalar_fn)


def is_polygon_ccw(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    _, ccw, cw, _ = _poly5_walks(f.b)
    f.put(ccw, True)
    f.put(cw, False)
    return f.finish(scalar_fn)


# -------------------------------------------------- structure-flag lanes

def is_collection(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    _, ccw, cw, _ = _poly5_walks(f.b)
    f.put(ccw | cw, False)
    for pat in (POINT2, POINTZ):
        f.put(f.b.match(pat), False)
    for pat in (MPOINT, MLS2, GCPOINT):
        f.put(f.b.match(pat), True)
    return f.finish(scalar_fn)


def zmflag(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    _, ccw, cw, _ = _poly5_walks(f.b)
    f.put(ccw | cw, 0)
    for pat in (POINT2, LINE_INTS, MPOINT, MLS2):
        f.put(f.b.match(pat), 0)
    for pat in (POINTZ, LINEZ2):
        f.put(f.b.match(pat), 2)
    return f.finish(scalar_fn)


def force_collection(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    _, ccw, cw, _ = _poly5_walks(f.b)
    wrap = _join("GEOMETRYCOLLECTION (", f.b.arr, ")")
    f.put(ccw, wrap)
    m = f.b.match(POINT2)
    f.put(m, wrap)
    m, g = f.b.extract(MLS2)
    if m.any():
        f.put(m, _join("GEOMETRYCOLLECTION (LINESTRING (", g[0], " ",
                       g[1], ", ", g[2], " ", g[3], "), LINESTRING (",
                       g[4], " ", g[5], ", ", g[6], " ", g[7], "))"))
    return f.finish(scalar_fn)


def is_valid_reason(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    _, ccw, cw, bow = _poly5_walks(f.b)
    f.put(ccw | cw, "Valid Geometry")
    f.put(bow, "Self-intersection")
    for pat in (POINT2, LINE_INTS, MPOINT, MLS2):
        f.put(f.b.match(pat), "Valid Geometry")
    return f.finish(scalar_fn)


# ------------------------------------------------------- clearance lanes

def minimum_clearance(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    g, ccw, _, _ = _poly5_walks(f.b)
    if ccw.any():
        # scalar pair scan bottoms out at min(w, h) exactly (small-int
        # squares are exact, sqrt of an exact square is exact)
        w = _num(g, 2) - _num(g, 0)
        h = _num(g, 5) - _num(g, 1)
        f.put(ccw, np.minimum(w, h))
    return f.finish(scalar_fn)


def minimum_clearance_line(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    g, ccw, _, _ = _poly5_walks(f.b)
    if ccw.any():
        w = _num(g, 2) - _num(g, 0)
        h = _num(g, 5) - _num(g, 1)
        # scalar scan order reaches (A B)->(C B) first; strict < keeps
        # it on ties, else (A B)->(A D)
        horiz = _join("LINESTRING (", g[0], " ", g[1], ", ", g[2], " ",
                      g[1], ")").to_pandas().to_numpy()
        vert = _join("LINESTRING (", g[0], " ", g[1], ", ", g[0], " ",
                     g[5], ")").to_pandas().to_numpy()
        f.put(ccw, np.where(w <= h, horiz, vert))
    return f.finish(scalar_fn)


def maximum_inscribed_circle(s: pd.Series, scalar_rows_fn) -> pd.DataFrame:
    """(center, nearest, radius) struct frame; scalar_rows_fn maps the
    unclaimed subseries to a DataFrame of the same columns."""
    n = len(s)
    center = np.full(n, None, dtype=object)
    nearest = np.full(n, None, dtype=object)
    radius = np.full(n, None, dtype=object)
    b = batch_of(s)
    g, ccw, _, _ = _poly5_walks(b)
    if ccw.any():
        a = _num(g, 0)
        bb = _num(g, 1)
        c = _num(g, 2)
        d = _num(g, 5)
        # replicate the scalar's formulas exactly: cx = minx + (maxx-minx)/2
        cx = a + (c - a) / 2.0
        cy = bb + (d - bb) / 2.0
        w = c - a
        h = d - bb
        cxs = pa.array(_fmt_np(cx, ccw), type=pa.string())
        cys = pa.array(_fmt_np(cy, ccw), type=pa.string())
        center[ccw] = _join("POINT (", cxs, " ", cys, ")") \
            .to_pandas().to_numpy()[ccw]
        # nearest boundary point: ring segments bottom, right, top,
        # left; strict < keeps bottom when h <= w, else right
        bottom = _join("POINT (", cxs, " ", g[1], ")") \
            .to_pandas().to_numpy()
        right = _join("POINT (", g[2], " ", cys, ")") \
            .to_pandas().to_numpy()
        nearest[ccw] = np.where(h <= w, bottom, right)[ccw]
        radius[ccw] = (np.minimum(w, h) / 2.0)[ccw]
    out = pd.DataFrame({"center": pd.Series(center, index=s.index),
                        "nearest": pd.Series(nearest, index=s.index),
                        "radius": pd.Series(radius, index=s.index)})
    rest = pd.Series(~ccw, index=s.index)
    if rest.any():
        rd = scalar_rows_fn(s[rest])
        out.loc[rest, ["center", "nearest", "radius"]] = \
            rd[["center", "nearest", "radius"]]
    return out


# ------------------------------------------------------------- 3D lanes

def distance_3d(a: pd.Series, b: pd.Series, scalar_fn) -> pd.Series:
    n = len(a)
    out = np.full(n, None, dtype=object)
    claimed = np.zeros(n, bool)
    ba, bb = batch_of(a), batch_of(b)
    mpz_b, gb = bb.extract(POINTZ)

    mpz_a, ga = ba.extract(POINTZ)
    m = mpz_a & mpz_b
    if m.any():
        ax, ay, az = (_num(ga, i) for i in range(3))
        qx, qy, qz = (_num(gb, i) for i in range(3))
        # scalar (both degenerate): sqrt(r0^2 + r1^2 + r2^2), summed
        # left to right — replicated operation order
        r0, r1, r2 = ax - qx, ay - qy, az - qz
        out[m] = np.sqrt((r0 * r0 + r1 * r1) + r2 * r2)[m]
        claimed |= m

    ml, gl = ba.extract(LINEZ2)
    m2 = ml & mpz_b & ~claimed
    if m2.any():
        x1, y1, z1, x2, y2, z2 = (_num(gl, i) for i in range(6))
        qx, qy, qz = (_num(gb, i) for i in range(3))
        d1x, d1y, d1z = x2 - x1, y2 - y1, z2 - z1
        # scalar e == 0 branch of _seg_seg_dist3, op order replicated
        aa = (d1x * d1x + d1y * d1y) + d1z * d1z
        m2 = m2 & (aa > 0)            # degenerate segment -> scalar
        rx, ry, rz = x1 - qx, y1 - qy, z1 - qz
        c_ = (d1x * rx + d1y * ry) + d1z * rz
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.minimum(1.0, np.maximum(0.0, -c_ / aa))
        cx, cy, cz = x1 + t * d1x, y1 + t * d1y, z1 + t * d1z
        ex, ey, ez = cx - qx, cy - qy, cz - qz
        out[m2] = np.sqrt((ex * ex + ey * ey) + ez * ez)[m2]
        claimed |= m2

    outs = pd.Series(out, index=a.index, dtype=object)
    rest = pd.Series(~claimed, index=a.index)
    if rest.any():
        outs[rest] = pd.Series(
            [scalar_fn(x, y) for x, y in zip(a[rest], b[rest])],
            index=a[rest].index, dtype=object)
    return outs


def _trig(t: pd.Series):
    """cos/sin per DISTINCT angle via math.* (numpy's vector cos/sin may
    differ from libm in the last ulp, and the lane must be bit-equal to
    the scalar), gathered back with one factorize — r14: the old per-row
    t.map pair profiled at ~3 s/600k per rotation UDF."""
    codes, uniques = pd.factorize(t)
    cu = np.array([math.cos(float(v)) for v in uniques] + [np.nan])
    su = np.array([math.sin(float(v)) for v in uniques] + [np.nan])
    codes = np.where(codes < 0, len(uniques), codes)
    return cu[codes], su[codes]


def _rot_lane(s, t, scalar_fn, emit):
    n = len(s)
    out = np.full(n, None, dtype=object)
    claimed = np.zeros(n, bool)
    b = batch_of(s)
    tn = pd.to_numeric(t, errors="coerce")
    tmask = tn.notna().to_numpy()
    c = sn = None
    for pat, has_z in ((POINTZ, True), (POINT2, False)):
        m, g = b.extract(pat)
        m = m & tmask & ~claimed
        if not m.any():
            continue
        if c is None:
            c, sn = _trig(tn)
        x, y = _num(g, 0), _num(g, 1)
        z = _num(g, 2) if has_z else np.zeros(n, float)
        xx, yy, zz = emit(x, y, z, c, sn)
        fx = pa.array(_fmt_np(xx, m), type=pa.string())
        fy = pa.array(_fmt_np(yy, m), type=pa.string())
        fz = pa.array(_fmt_np(zz, m), type=pa.string())
        vals = _join("POINT Z (", fx, " ", fy, " ", fz, ")") \
            .to_pandas().to_numpy()
        out[m] = vals[m]
        claimed |= m
    outs = pd.Series(out, index=s.index, dtype=object)
    rest = pd.Series(~claimed, index=s.index)
    if rest.any():
        outs[rest] = pd.Series(
            [scalar_fn(w, v) for w, v in zip(s[rest], t[rest])],
            index=s[rest].index, dtype=object)
    return outs


def rotate_x(s: pd.Series, t: pd.Series, scalar_fn) -> pd.Series:
    return _rot_lane(s, t, scalar_fn,
                     lambda x, y, z, c, sn: (x, y * c - z * sn,
                                             y * sn + z * c))


def rotate_y(s: pd.Series, t: pd.Series, scalar_fn) -> pd.Series:
    return _rot_lane(s, t, scalar_fn,
                     lambda x, y, z, c, sn: (x * c + z * sn, y,
                                             -x * sn + z * c))


# ----------------------------------------------------------- hex / WKB

def as_hexewkb(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    g, ccw, _, _ = _poly5_walks(f.b)
    if ccw.any():
        a, bb, c, d = (_num(g, i)[ccw] for i in (0, 1, 2, 5))
        f.put(ccw, _hex_rows(ccw, _RECT_HDR,
                             (a, bb, c, bb, c, d, a, d, a, bb)))
    m, g = f.b.extract(POINT2)
    if m.any():
        f.put(m, _hex_rows(m, _POINT_HDR, (_num(g, 0)[m], _num(g, 1)[m])))
    return f.finish(scalar_fn)


# WKB headers (little-endian): POINT; POLYGON of one 5-point ring
_POINT_HDR = bytes.fromhex("0101000000")
_RECT_HDR = bytes.fromhex("01030000000100000005000000")


def _hex_rows(mask: np.ndarray, hdr: bytes, cols) -> np.ndarray:
    """Upper-case hex WKB of the masked rows, each `hdr` followed by the
    doubles `cols` give it — byte-identical to GT.to_wkb(...).hex(). The
    rows are fixed width: one buffer is hexed, then sliced per row (10x
    cheaper than per-row bytes.hex())."""
    m = int(mask.sum())
    raw = np.empty((m, len(hdr) + 8 * len(cols)), dtype=np.uint8)
    raw[:, :len(hdr)] = np.frombuffer(hdr, dtype=np.uint8)
    raw[:, len(hdr):] = np.column_stack(cols).astype("<f8").view(np.uint8)
    big, w = raw.tobytes().hex().upper(), 2 * raw.shape[1]
    vals = np.full(len(mask), None, dtype=object)
    vals[mask] = [big[i * w:(i + 1) * w] for i in range(m)]
    return vals


# --------------------------------------------------- constructor lanes

def polygon_from_envelope(x1, y1, x2, y2, scalar_fn) -> pd.Series:
    n = len(x1)
    nums = [pd.to_numeric(v, errors="coerce").to_numpy(dtype=float)
            for v in (x1, y1, x2, y2)]
    ok = ~np.isnan(nums[0]) & ~np.isnan(nums[1]) \
        & ~np.isnan(nums[2]) & ~np.isnan(nums[3])
    # the scalar nulls on pd.isna but emits for ANY floats; the lane
    # mirrors that (no rect-validity constraint in the scalar)
    out = np.full(n, None, dtype=object)
    if ok.any():
        f1, f2, f3, f4 = (_fmt_np(v, ok) for v in nums)
        for i in np.nonzero(ok)[0]:
            out[i] = (f"POLYGON (({f1[i]} {f2[i]}, {f3[i]} {f2[i]}, "
                      f"{f3[i]} {f4[i]}, {f1[i]} {f4[i]}, "
                      f"{f1[i]} {f2[i]}))")
    outs = pd.Series(out, index=x1.index, dtype=object)
    rest = pd.Series(~ok, index=x1.index)
    if rest.any():
        outs[rest] = pd.Series(
            [scalar_fn(a, b, c, d) for a, b, c, d in
             zip(x1[rest], y1[rest], x2[rest], y2[rest])],
            index=x1[rest].index, dtype=object)
    return outs


def point_from_text(s: pd.Series, d: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    md = (d == ",").to_numpy(dtype=bool)
    m, g = f.b.extract(PAIR_CSV)
    m = m & md
    if m.any():
        f.put(m, _join("POINT (", g[0], " ", g[1], ")"))
    out = pd.Series(f.out, index=s.index, dtype=object)
    rest = pd.Series(~f.claimed, index=s.index)
    if rest.any():
        out[rest] = pd.Series(
            [None if t is None or dd is None else scalar_fn(t, dd)
             for t, dd in zip(s[rest], d[rest])],
            index=s[rest].index, dtype=object)
    return out


def linestring_from_text(s: pd.Series, d: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    md = (d == ",").to_numpy(dtype=bool)
    m = f.b.match(PAIRS_CSV) & md
    if m.any():
        # "a,b,c,d,..." -> "a b, c d, ...": alternate the separators
        body = pc.replace_substring_regex(
            f.b.arr, pattern=r"(-?\d+),(-?\d+)(?:,|$)",
            replacement=r"\1 \2, ")
        body = pc.replace_substring_regex(body, pattern=r", $",
                                          replacement="")
        f.put(m, _join("LINESTRING (", body, ")"))
    out = pd.Series(f.out, index=s.index, dtype=object)
    rest = pd.Series(~f.claimed, index=s.index)
    if rest.any():
        out[rest] = pd.Series(
            [None if t is None or dd is None else scalar_fn(t, dd)
             for t, dd in zip(s[rest], d[rest])],
            index=s[rest].index, dtype=object)
    return out


def typed_from_text(s: pd.Series, want: str, scalar_fn) -> pd.Series:
    """Typed FromText gates: canonical match of the wanted kind is the
    identity; a canonical geometry of a DIFFERENT kind nulls. Only the
    shape classes this module recognizes are laned; the rest parse."""
    f = _Fill(s)
    ident = {"LINESTRING": (LINE_INTS, LINEZ2),
             "MULTIPOINT": (MPOINT,),
             "MULTILINESTRING": (MLS2,),
             "GEOMETRYCOLLECTION": (GCPOINT,)}.get(want, ())
    for pat in ident:
        f.put(f.b.match(pat), s)
    if want == "MULTIPOLYGON":
        m, g = f.b.extract(MPOLY5)
        if m.any():
            # same structural checks as the CCW rect walk
            m = (m & _eq(g, 3, 1) & _eq(g, 4, 2) & _eq(g, 7, 5)
                 & _eq(g, 6, 0) & _eq(g, 8, 0) & _eq(g, 9, 1)
                 & (_num(g, 2) > _num(g, 0)) & (_num(g, 5) > _num(g, 1)))
            # single-member canon: MULTIPOLYGON (((ring))) prints POLYGON
            f.put(m, _join("POLYGON ((", g[0], " ", g[1], ", ", g[2],
                           " ", g[1], ", ", g[2], " ", g[5], ", ",
                           g[0], " ", g[5], ", ", g[0], " ", g[1], "))"))
    # canonical mismatches -> NULL (claimed with value None)
    _, ccw, cw, _ = _poly5_walks(f.b)
    mismatch = {"LINESTRING": [ccw | cw, POINT2, MPOINT],
                "MULTIPOLYGON": [ccw | cw, POINT2, LINE_INTS],
                "MULTIPOINT": [ccw | cw, POINT2, LINE_INTS],
                "MULTILINESTRING": [ccw | cw, POINT2, LINE_INTS],
                "GEOMETRYCOLLECTION": [ccw | cw, POINT2, LINE_INTS]}.get(
        want, [])
    for pat in mismatch:
        m = pat if isinstance(pat, np.ndarray) else f.b.match(pat)
        f.put(m, None)
    return f.finish(scalar_fn)


def line_from_multipoint(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    m, g = f.b.extract(MPOINT)
    if m.any():
        f.put(m, _join("LINESTRING (", g[0], ")"))
    return f.finish(scalar_fn)


# ----------------------------------------------------- accessor lanes

def num_interior_rings(s: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    _, ccw, cw, _ = _poly5_walks(f.b)
    f.put(ccw | cw, 0)
    return f.finish(scalar_fn)


def force_3dz(s: pd.Series, z: pd.Series, scalar_fn) -> pd.Series:
    f = _Fill(s)
    zn = pd.to_numeric(z, errors="coerce")
    zmask = zn.notna().to_numpy()
    m, g = f.b.extract(POINT2)
    m = m & zmask
    if m.any():
        fz = _fmt_np(zn.to_numpy(dtype=float), m)
        za = pa.array(fz, type=pa.string())
        f.put(m, _join("POINT Z (", g[0], " ", g[1], " ", za, ")"))
    out = pd.Series(f.out, index=s.index, dtype=object)
    rest = pd.Series(~f.claimed, index=s.index)
    if rest.any():
        out[rest] = pd.Series(
            [None if w is None or pd.isna(v) else scalar_fn(w, float(v))
             for w, v in zip(s[rest], z[rest])],
            index=s[rest].index, dtype=object)
    return out


# ---------------------------------------------- Visvalingam-Whyatt lane

LINE5 = _named(
    r"^LINESTRING \(%s %s, %s %s, %s %s, %s %s, %s %s\)$" % ((_I,) * 10))


def simplify_vw(s: pd.Series, tol: pd.Series, scalar_fn) -> pd.Series:
    """Open 5-point integer polylines (the two-spike fixture class):
    endpoints pinned, <= 3 interior removals. The scalar loop removes
    the FIRST minimum effective area while it is < tol; with three
    interior vertices that is a bounded state machine — each round is
    an argmin over <= 3 vectorized triangle areas (the _tri_area2
    formula, op order replicated), and the 8 possible retained-vertex
    states each emit with one vectorized join."""
    f = _Fill(s)
    tn = pd.to_numeric(tol, errors="coerce")
    m, g = f.b.extract(LINE5)
    m = m & tn.notna().to_numpy()
    if m.any():
        t = tn.to_numpy(dtype=float)
        x = [_num(g, 2 * i) for i in range(5)]
        y = [_num(g, 2 * i + 1) for i in range(5)]

        def tri(i, j, k):
            # _tri_area2(a,b,c)/2 with identical op order
            return np.abs((x[j] - x[i]) * (y[k] - y[i])
                          - (x[k] - x[i]) * (y[j] - y[i])) / 2.0

        # alive[i] for interior vertices 1..3; iterate three rounds of
        # first-min removal, exactly the scalar's while-loop
        alive = np.stack([m.copy(), m.copy(), m.copy()], axis=1)
        BIG = np.inf
        for _round in range(3):
            any_alive = alive.any(axis=1) & m
            if not any_alive.any():
                break
            # neighbor of interior vertex v: nearest alive (or endpoint)
            # on each side given the current alive mask
            areas = np.full((len(s), 3), BIG)
            for v in range(3):
                va = alive[:, v]
                if not va.any():
                    continue
                left = np.zeros(len(s), dtype=np.int64)
                right = np.full(len(s), 4, dtype=np.int64)
                for u in range(v - 1, -1, -1):
                    cand = alive[:, u] & (left == 0)
                    left = np.where(cand, u + 1, left)
                for u in range(v + 1, 3):
                    cand = alive[:, u] & (right == 4)
                    right = np.where(cand, u + 1, right)
                # gather coordinates by index (left/right in 0..4)
                lx = np.choose(left, x)
                ly = np.choose(left, y)
                rx = np.choose(right, x)
                ry = np.choose(right, y)
                vx, vy = x[v + 1], y[v + 1]
                a2 = np.abs((vx - lx) * (ry - ly)
                            - (rx - lx) * (vy - ly)) / 2.0
                areas[:, v] = np.where(va, a2, BIG)
            amin = areas.min(axis=1)
            imin = areas.argmin(axis=1)           # first min, like scalar
            remove = any_alive & (amin < t)
            if not remove.any():
                break
            for v in range(3):
                alive[:, v] &= ~(remove & (imin == v))
        # emit by retained-state: 8 possible masks over vertices 1..3
        for state in range(8):
            keep = [True, bool(state & 1), bool(state & 2),
                    bool(state & 4), True]
            sm = m.copy()
            for v in range(3):
                sm &= alive[:, v] == keep[v + 1]
            if not sm.any():
                continue
            parts: list = ["LINESTRING ("]
            first = True
            for i in range(5):
                if not keep[i]:
                    continue
                if not first:
                    parts.append(", ")
                parts.extend([g[2 * i], " ", g[2 * i + 1]])
                first = False
            parts.append(")")
            f.put(sm, _join(*parts))
    out = pd.Series(f.out, index=s.index, dtype=object)
    rest = pd.Series(~f.claimed, index=s.index)
    if rest.any():
        out[rest] = pd.Series(
            [scalar_fn(w, v) for w, v in zip(s[rest], tol[rest])],
            index=s[rest].index, dtype=object)
    return out


# ----------------------------------------------- float point accessors

# For pure ACCESSORS there is no arithmetic to keep exact, only a parse:
# arrow's string->float64 cast is correctly-rounded strtod, identical to
# Python float() — so the atom can be any plain decimal, not just the
# small-int class.
_F = r"(-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)"
FPOINT2 = _named(rf"^POINT \({_F} {_F}\)$")
FPOINTZ = _named(rf"^POINT Z \({_F} {_F} {_F}\)$")


def fmt_f64(v: np.ndarray):
    """Vectorized kernel `_fmt`: (strings pa.Array, ok ndarray[bool]).

    Arrow's float64->string cast is bit-identical to kernel/geom._fmt
    (str(int(v)) for integral values, shortest-repr otherwise) inside the
    window |v| ∈ [1e-4, 1e10) ∪ {0}, finite — verified empirically on
    1.7M samples including dense sweeps of both window edges (r11; the
    boundary failures start exactly AT 1e10 — arrow switches to
    scientific notation — and below 1e-4 — Python repr switches). -0.0
    normalizes to +0.0 first (_fmt emits "0", arrow would emit "-0").
    Rows outside the window get ok=False and a placeholder string; the
    caller must AND `ok` into its claim mask."""
    va = np.where(v == 0.0, 0.0, v)         # -0.0 -> +0.0
    av = np.abs(va)
    ok = np.isfinite(va) & (av < 1e10) & ((av >= 1e-4) | (va == 0.0))
    sa = pc.cast(pa.array(np.where(ok, va, 0.0)), pa.string())
    return sa, ok


def fmt_f64_full(v: np.ndarray):
    """fmt_f64 with the out-of-window finite values patched per row via
    the kernel `_fmt` itself (bit-equal by construction) — so a lane's
    claim never shrinks just because a transform produced a 1e-17 or a
    1e12 coordinate. Only NaN/inf rows stay unclaimed."""
    sa, ok = fmt_f64(v)
    bad = ~ok & np.isfinite(v)
    if bad.any():
        arr = sa.to_pandas().to_numpy(dtype=object, copy=True)
        for i in np.nonzero(bad)[0]:
            arr[i] = _fmt(float(v[i]))
        sa = pa.array(arr, type=pa.string())
        ok = ok | bad
    return sa, ok


def _xy_accessor(s: pd.Series, axis: int, scalar_fn) -> pd.Series:
    f = _Fill(s)
    m, g = f.b.extract(FPOINT2)
    if m.any():
        f.put(m, _num(g, axis) if axis < 2
              else np.full(len(s), None, dtype=object))
    m, g = f.b.extract(FPOINTZ)
    if m.any():
        f.put(m, _num(g, axis))
    return f.finish(scalar_fn)


def st_x(s: pd.Series, scalar_fn) -> pd.Series:
    return _xy_accessor(s, 0, scalar_fn)


def st_y(s: pd.Series, scalar_fn) -> pd.Series:
    return _xy_accessor(s, 1, scalar_fn)
