"""Binary-carrier ST_* functions: WKB BinaryType between chained stages.

The text surface (functions/spatial.py) re-parses and re-serializes WKT at
every stage of a chained `F.expr("ST_…(ST_…(…))")` — measured at ~63% of
the buffer→area→npoints chain (SCALING.md, r7). These `_B`-suffixed twins
carry kernel-ISO WKB (kernel/geomtypes.py:to_wkb byte layout) between
stages instead, decode each Arrow batch into ONE packed coordinate array
(kernel/packed.py), and run the measures / the CRS projection / the convex
round buffer as whole-batch numpy math. WKT appears only at the
user-facing edges:

    ST_GeomFromWKT_B(wkt)            -> binary   (text -> carrier, once)
    ST_AsText_B(bin)                 -> string   (carrier -> text, once)
    ST_BufferRound_B(bin, d, q)      -> binary
    ST_Transform_B(bin, src, dst)    -> binary
    ST_Area_B / ST_Length_B(bin)     -> double
    ST_NPoints_B(bin)                -> bigint
    ST_Coords_B(bin)                 -> array<double>  (flattened x,y …,
                                        areal rings closed — the binary
                                        twin of the WKT-numbers split)

Semantics parity is pinned two ways: every `_B` function falls back to the
SAME scalar kernel as its text twin for rows the vectorized path doesn't
cover (Z, GEOMETRYCOLLECTION, non-convex buffers), and
tests/test_binary_carrier.py property-tests binary == text per family.

This is the PySpark-native equivalent of Sedona's binary GeometryUDT
interchange (the reference's five-call ST_ chain at
spark_job/process_geodata.py:102-139 never round-trips through text
either). Scale: row-local, per-Arrow-batch, no shuffle or driver state.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
)

from ..kernel import geom as G
from ..kernel import geomtypes as GT
from ..kernel import packed as PK
from . import lanes as LN
from . import lanes_ops as LO
from . import spatial as S

# ------------------------------------------------------------ text -> WKB

# vectorized rect edge: a canonical CCW rect row skips the Python
# parser — its WKB is assembled directly from the four extracted
# coordinates as one structured-array write for the whole batch
_RECT_WKB_DT = np.dtype([
    ("hdr", "u1", (9,)),       # 01 + code 3 + nrings 1 (LE)
    ("npts", "<u4"),
    ("xy", "<f8", (10,)),      # closed CCW rect walk
])
_RECT_HDR = np.frombuffer(
    b"\x01" + struct.pack("<I", 3) + struct.pack("<I", 1), dtype="u1")


def _rect_wkb_batch(a, b, c, d) -> list:
    """WKB bytes for n axis-aligned rects (x1=a, y1=b, x2=c, y2=d),
    byte-identical to GT.to_wkb(("POLYGON", [[(a,b),(c,b),(c,d),(a,d)]]))."""
    n = len(a)
    arr = np.empty(n, dtype=_RECT_WKB_DT)
    arr["hdr"] = _RECT_HDR
    arr["npts"] = 5
    xy = arr["xy"]
    xy[:, 0] = a
    xy[:, 1] = b
    xy[:, 2] = c
    xy[:, 3] = b
    xy[:, 4] = c
    xy[:, 5] = d
    xy[:, 6] = a
    xy[:, 7] = d
    xy[:, 8] = a
    xy[:, 9] = b
    big = arr.tobytes()
    w = _RECT_WKB_DT.itemsize
    return [big[i * w:(i + 1) * w] for i in range(n)]


def _geom_from_wkt_b_scalar(s):
    """Text edge for one non-rect row: same hygiene as the text
    st_geomfromwkt (parse + normalize areal, typed parse otherwise),
    emitting WKB instead of canonical WKT."""
    if s is None:
        return None
    if S._is_areal(s):
        g = G.normalize(G.parse_wkt(s))
        return GT.to_wkb(("POLYGON" if len(g) <= 1 else "MULTIPOLYGON", g))
    return GT.to_wkb(GT.parse_wkt(s))


def _typed_lane_wkb(npts: np.ndarray, xy: np.ndarray, code: int) -> list:
    """WKB bytes for m rows of one puntal/lineal kind, row i holding
    npts[i] consecutive points of xy (kernel/packed._emit_ragged)."""
    m = len(npts)
    ring_off = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(npts, out=ring_off[1:])
    pb = PK.PackedBatch(
        m, np.full(m, code, dtype=np.int8),
        np.arange(m + 1, dtype=np.int64), ring_off,
        np.ones(m, dtype=bool), np.ascontiguousarray(xy), {})
    return PK._emit_ragged(pb)


def _from_wkt_full_series(s: pd.Series) -> pd.Series:
    out = pd.Series([None] * len(s), index=s.index, dtype=object)
    if not len(s):
        return out
    if len(s) >= 4096:
        # dimension-joined geometry columns repeat a handful of distinct
        # strings across the whole batch (e.g. 50 region rects x 600k
        # rows) — factorize, parse each distinct ONCE, gather back.
        # factorize is one hash pass (~0.2 us/row), repaid whenever the
        # batch is <= 1/4 distinct.
        codes, uniques = pd.factorize(s)
        if len(uniques) <= len(s) // 4:
            uw = _geom_from_wkt_b_series(pd.Series(uniques, dtype=object))
            taken = uw.to_numpy(dtype=object).take(codes)
            taken[codes < 0] = None            # NaN/None inputs
            out[:] = taken
            return out
    return _geom_from_wkt_b_series(s)


@pandas_udf(BinaryType())
def st_geomfromwkt_b(s: pd.Series) -> pd.Series:
    return _from_wkt_full_series(s)


def _geom_from_wkt_b_series(s: pd.Series) -> pd.Series:
    """Text edge off the shared lanes extracts: canonical POINT /
    LINESTRING / MULTIPOINT text and CCW rects (closing vertex optional)
    parse as whole batches. Numbers go through arrow's cast, the same
    correctly rounded double float() gives, so every fast row is
    byte-identical to the scalar parser; the CCW check ((c-a)(d-b) > 0)
    makes normalize() provably the identity on rects. Anything else (Z,
    EMPTY, parenthesized MULTIPOINT members, stray whitespace, CW or
    non-finite rects) takes the scalar parser."""
    f = LN._Fill(s)
    m, g = f.b.extract(LN.FPOINT2)
    if m.any():
        f.put(m, _point_wkb_batch(LN._num(g, 0)[m], LN._num(g, 1)[m]))
    for pat, code in ((LO.FLINE_ANY, PK.LINESTRING),
                      (LO.FMPOINT_ANY, PK.MULTIPOINT)):
        m, g = f.b.extract(pat)
        if m.any():
            f.put(m, _typed_lane_wkb(
                *LN._body_xy(g[0], np.flatnonzero(m)), code))
    g, ccw, _, _ = LN._poly5_walks(f.b, LO.FPOLY45)
    if ccw.any():
        a, b, c, d = (LN._num(g, i) for i in (0, 1, 2, 5))
        ccw &= np.isfinite([a, b, c, d]).all(axis=0)
        f.put(ccw, _rect_wkb_batch(a[ccw], b[ccw], c[ccw], d[ccw]))
    return f.finish(_geom_from_wkt_b_scalar)


@pandas_udf(StringType())
def st_astext_b(b: pd.Series) -> pd.Series:
    p = PK.pack_wkb(_tolist(b))
    return pd.Series(PK.unpack_wkt(p), index=b.index, dtype=object)


def _tolist(b: pd.Series) -> list:
    return [bytes(v) if v is not None else None for v in b.tolist()]


# ------------------------------------------------------------ measures

def _area_b_series(b: pd.Series) -> pd.Series:
    p = PK.pack_wkb(_tolist(b))
    ar = PK.area_np(p)
    out = pd.Series(ar, index=b.index)
    for i, raw in p.fallback.items():
        # Z / GC rows: same convention as the text _area (strip_z; GC
        # sums areal members)
        out.iloc[i] = GT.area_of(GT.strip_z(GT.parse_wkb(raw)))
    out[np.asarray(p.kind) == 0] = None
    return out


@pandas_udf(DoubleType())
def st_area_b(b: pd.Series) -> pd.Series:
    return _area_b_series(b)


def _npoints_b_series(b: pd.Series) -> pd.Series:
    p = PK.pack_wkb(_tolist(b))
    npts = PK.npoints_np(p)
    out = pd.Series(npts, index=b.index, dtype="Int64")
    for i, raw in p.fallback.items():
        out.iloc[i] = GT.npoints(GT.parse_wkb(raw))
    out[np.asarray(p.kind) == 0] = None
    return out


@pandas_udf(LongType())
def st_npoints_b(b: pd.Series) -> pd.Series:
    return _npoints_b_series(b)


@pandas_udf(DoubleType())
def st_length_b(b: pd.Series) -> pd.Series:
    p = PK.pack_wkb(_tolist(b))
    ln = PK.length_np(p)
    out = pd.Series(ln, index=b.index)
    for i, raw in p.fallback.items():
        out.iloc[i] = GT.length(GT.parse_wkb(raw))
    out[np.asarray(p.kind) == 0] = None
    return out


def _coords_b_series(b: pd.Series) -> pd.Series:
    """Flattened [x1, y1, x2, y2, …] per geometry, areal rings CLOSED —
    element-for-element the numbers a WKT-text split would yield
    (operators/dissolve.wkt_nums_sql), so try_element_at positions match."""
    p = PK.pack_wkb(_tolist(b))
    out: list = [None] * p.n
    ro, go = p.ring_off, p.geom_off
    areal = (3, 6)
    for i in range(p.n):
        k = int(p.kind[i])
        if k == 0:
            continue
        if k == -1:
            tg = GT.parse_wkb(p.fallback[i])
            out[i] = [float(v) for pt in GT.points_of(tg) for v in pt[:2]]
            continue
        parts = []
        for r in range(go[i], go[i + 1]):
            ring = p.coords[ro[r]:ro[r + 1]]
            parts.append(ring)
            if k in areal and len(ring):
                parts.append(ring[:1])
        out[i] = (np.concatenate(parts).ravel().tolist() if parts else [])
    return pd.Series(out, index=b.index, dtype=object)


@pandas_udf(ArrayType(DoubleType()))
def st_coords_b(b: pd.Series) -> pd.Series:
    return _coords_b_series(b)


# ---------------------------------------------------- shape ops (r8 late)

_PT_HDR = b"\x01" + struct.pack("<I", 1)


def _point_wkb(x: float, y: float) -> bytes:
    return _PT_HDR + struct.pack("<2d", x, y)


_PT_DT = np.dtype([("hdr", "u1", (5,)), ("xy", "<f8", (2,))])


def _point_wkb_batch(xs, ys) -> list:
    """POINT WKB for n coordinate pairs in one structured-array write."""
    m = len(xs)
    arr = np.empty(m, dtype=_PT_DT)
    arr["hdr"] = np.frombuffer(_PT_HDR, dtype=np.uint8)
    arr["xy"][:, 0] = xs
    arr["xy"][:, 1] = ys
    big = arr.tobytes()
    w = _PT_DT.itemsize
    return [big[i * w:(i + 1) * w] for i in range(m)]


def _centroid_b_scalar(tg):
    """Same dispatch as the text _centroid, WKB end (strip_z projection;
    areal via the normalized area-weighted form, puntal/lineal via the
    JTS by-dimension conventions, GEOMETRYCOLLECTION raises)."""
    tg = GT.strip_z(tg)
    kind, data = tg
    if kind in ("POLYGON", "MULTIPOLYGON"):
        c = S._centroid_areal_val(G.normalize(data))
    else:
        c = GT.centroid(tg)  # raises for GEOMETRYCOLLECTION (parity)
    return None if c is None else _point_wkb(c[0], c[1])


@pandas_udf(BinaryType())
def st_centroid_b(b: pd.Series) -> pd.Series:
    p = PK.pack_wkb(_tolist(b))
    elig, cx, cy = PK.centroid_np(p)
    elig_l, lx, ly = PK.lineal_centroid_np(p)
    if elig_l.any():
        cx = np.where(elig_l, lx, cx)
        cy = np.where(elig_l, ly, cy)
        elig = elig | elig_l
    out: list = [None] * p.n
    ei = np.flatnonzero(elig)
    if len(ei):
        wkbs = _point_wkb_batch(cx[ei], cy[ei])
        for j, i in enumerate(ei):
            out[i] = wkbs[j]
    for i in np.flatnonzero(~elig):
        if p.kind[i] == 0:
            continue
        out[i] = _centroid_b_scalar(PK.row_tgeom(p, i))
    return pd.Series(out, index=b.index, dtype=object)


@pandas_udf(BinaryType())
def st_envelope_b(b: pd.Series) -> pd.Series:
    """JTS getEnvelope shape rules off the vectorized bounds: areal input
    always yields the 4-corner polygon (text-path parity); other kinds
    degrade to POINT / flat LINESTRING / POLYGON EMPTY. The three common
    shapes (proper box, point, flat line) each emit as one batch write
    (r9: the per-row GT.to_wkb loop dominated the rewritten envelope
    chain)."""
    p = PK.pack_wkb(_tolist(b))
    bb = PK.bounds_np(p)
    out: list = [None] * p.n
    x1, y1, x2, y2 = bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3]
    live = p.kind > 0
    nonempty = live & (x1 == x1)
    areal = (p.kind == 3) | (p.kind == 6)
    box = nonempty & (areal | ((x1 != x2) & (y1 != y2)))
    if box.any():
        bi = np.flatnonzero(box)
        wkbs = _rect_wkb_batch(x1[bi], y1[bi], x2[bi], y2[bi])
        for j, i in enumerate(bi):
            out[i] = wkbs[j]
    pt = nonempty & ~box & (x1 == x2) & (y1 == y2)
    if pt.any():
        pi = np.flatnonzero(pt)
        wkbs = _point_wkb_batch(x1[pi], y1[pi])
        for j, i in enumerate(pi):
            out[i] = wkbs[j]
    flat = nonempty & ~box & ~pt
    for i in np.flatnonzero(flat):
        out[i] = GT.to_wkb(("LINESTRING", [[(x1[i], y1[i]),
                                            (x2[i], y2[i])]]))
    for i in np.flatnonzero(live & ~nonempty):
        out[i] = GT.to_wkb(("POLYGON", []))
    for i, raw in p.fallback.items():
        tg = GT.strip_z(GT.parse_wkb(raw))
        out[i] = GT.to_wkb(GT.parse_wkt(GT.envelope_wkt(tg)))
    return pd.Series(out, index=b.index, dtype=object)


def _xy_b(b: pd.Series, axis: int) -> pd.Series:
    """ST_X/ST_Y off the carrier: coordinate for POINT rows, null for
    any other kind (the Sedona convention, same as the text _st_xy)."""
    p = PK.pack_wkb(_tolist(b))
    co = p.geom_coord_off()
    vals = np.full(p.n, np.nan)
    pts = (p.kind == PK.POINT) & (co[:-1] < co[1:])
    if pts.any():
        vals[pts] = p.coords[co[:-1][pts], axis]
    for i, raw in p.fallback.items():
        v = S._st_xy(GT.to_wkt(GT.parse_wkb(raw)), axis)
        if v is not None:
            vals[i] = v
    return pd.Series(vals, index=b.index)


@pandas_udf(DoubleType())
def st_x_b(b: pd.Series) -> pd.Series:
    return _xy_b(b, 0)


@pandas_udf(DoubleType())
def st_y_b(b: pd.Series) -> pd.Series:
    return _xy_b(b, 1)


# ------------------------------------------------------------ transforms

def _transform_b_series(b: pd.Series, src: pd.Series,
                        dst: pd.Series) -> pd.Series:
    if len(b) == 0:
        return pd.Series([], dtype=object)
    if src.nunique(dropna=False) == 1 and dst.nunique(dropna=False) == 1 \
            and src.iloc[0] is not None and dst.iloc[0] is not None:
        p = PK.pack_wkb(_tolist(b))
        try:
            q = PK.transform_np(p, str(src.iloc[0]), str(dst.iloc[0]))
        except ValueError as exc:
            raise G.GeomError(f"ST_Transform: {exc}") from exc
        return pd.Series(PK.unpack_wkb(q), index=b.index, dtype=object)
    # mixed CRS pairs in one batch: per-row scalar
    out = []
    for raw, a, c in zip(_tolist(b), src, dst):
        if raw is None:
            out.append(None)
        else:
            tg = GT.parse_wkb(raw)
            out.append(GT.to_wkb(PK._transform_tgeom(tg, str(a), str(c))))
    return pd.Series(out, index=b.index, dtype=object)


@pandas_udf(BinaryType())
def st_transform_b(b: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
    return _transform_b_series(b, src, dst)


# ------------------------------------------------------------ buffer

def _buffer_round_b_scalar(raw: bytes, d: float, q: int) -> bytes:
    """Fallback for rows the vectorized convex walk doesn't cover: same
    scalar kernel as the text ST_BufferRound, WKB at both ends."""
    wkt = GT.to_wkt(GT.parse_wkb(raw))
    res = S._buffer_round(wkt, d, q)
    return GT.to_wkb(GT.parse_wkt(res))


def _bufferround_b_series(b: pd.Series, d: pd.Series,
                          q: pd.Series) -> pd.Series:
    vals = _tolist(b)
    dd = pd.to_numeric(d, errors="coerce").to_numpy(dtype=np.float64,
                                                    na_value=np.nan)
    quad = 8
    qn = pd.to_numeric(q, errors="coerce").dropna()
    if len(qn):
        if qn.nunique() > 1:
            # per-row quadsegs: the vectorized walk assumes one q for the
            # whole batch, so varying-q batches go row-by-row through the
            # same scalar kernel as the text twin with each row's own q.
            qq = pd.to_numeric(q, errors="coerce").to_numpy(
                dtype=np.float64, na_value=np.nan)
            out: list = [None] * len(vals)
            for i, raw in enumerate(vals):
                if raw is None or dd[i] != dd[i]:
                    continue
                qi = 8 if qq[i] != qq[i] else int(qq[i])
                out[i] = _buffer_round_b_scalar(raw, float(dd[i]), qi)
            return pd.Series(out, index=b.index, dtype=object)
        quad = int(qn.iloc[0])
    p = PK.pack_wkb(vals)
    fast, coords, off = PK.buffer_round_np(p, np.nan_to_num(dd), quad)
    out: list = [None] * p.n
    rl = np.diff(off)
    if len(rl) and (rl == rl[0]).all() and rl[0] >= 3:
        # uniform output rings (e.g. every parcel buffers to a 36-gon):
        # one structured-array write for the whole batch
        L = int(rl[0])
        m = len(rl)
        dt = np.dtype([("hdr", "u1", (13,)),
                       ("xy", "<f8", ((L + 1) * 2,))])
        arr = np.empty(m, dtype=dt)
        arr["hdr"] = np.frombuffer(
            bytes(_RECT_HDR)[:9] + struct.pack("<I", L + 1),
            dtype=np.uint8)
        xy = arr["xy"].reshape(m, L + 1, 2)
        rings = coords.reshape(m, L, 2)
        xy[:, :L] = rings
        xy[:, L] = rings[:, 0]
        big = arr.tobytes()
        w = dt.itemsize
        fi = 0
        for i in np.flatnonzero(fast):
            out[i] = big[fi * w:(fi + 1) * w]
            fi += 1
    else:
        hdr = bytes(_RECT_HDR)  # 01 + POLYGON + nrings=1
        fi = 0
        for i in np.flatnonzero(fast):
            ring = coords[off[fi]:off[fi + 1]]
            out[i] = (hdr + struct.pack("<I", len(ring) + 1)
                      + ring.tobytes() + ring[0].tobytes())
            fi += 1
    for i in np.flatnonzero(~fast):
        if vals[i] is None or dd[i] != dd[i]:
            continue
        out[i] = _buffer_round_b_scalar(vals[i], float(dd[i]), quad)
    return pd.Series(out, index=b.index, dtype=object)


@pandas_udf(BinaryType())
def st_bufferround_b(b: pd.Series, d: pd.Series, q: pd.Series) -> pd.Series:
    return _bufferround_b_series(b, d, q)


# ------------------------------------------------- predicates (r8 late)

def _wkt_of(p: PK.PackedBatch, i: int):
    tg = PK.row_tgeom(p, i)
    return None if tg is None else GT.to_wkt(tg)


def _bool_b(law, scalar_fn, bounds=PK.rect_bounds_np):
    """Binary twin of the text surface's _rect_pair_predicate: where both
    sides' packed bounds are exact (kernel/packed.rect_bounds_np —
    value-level, no text contract needed) the DE-9IM law is whole-batch
    interval arithmetic; every other row routes through the SAME scalar
    kernel as the text UDFs (via one WKT conversion, fallback rows
    only)."""
    @pandas_udf(BooleanType())
    def fn(a: pd.Series, b: pd.Series) -> pd.Series:
        pa, pb = PK.pack_wkb(_tolist(a)), PK.pack_wkb(_tolist(b))
        out = S._pair_law(bounds(pa), bounds(pb), law,
                          lambda i: scalar_fn(_wkt_of(pa, i),
                                              _wkt_of(pb, i)))
        return pd.Series(out, index=a.index, dtype="object")

    return fn


# box_bounds_np (r9) also accepts degenerate boxes (points):
# intersects / disjoint / equals / contains (covers) / within are pure
# closed-interval statements at any operand dimension. touches /
# overlaps / crosses stay rect-only — their truth depends on operand
# dimension in ways bounds can't express (point-touches-point is false,
# point-inside-rect is zero-boundary contact, ...).
_BOX = PK.box_bounds_np
st_crosses_b = _bool_b(S._law_crosses, S._crosses)
st_intersects_b = _bool_b(S._law_intersects, S._intersects, _BOX)
st_disjoint_b = _bool_b(S._law_disjoint, S._disjoint, _BOX)
st_touches_b = _bool_b(S._law_touches, S._touches)
st_overlaps_b = _bool_b(S._law_overlaps, S._overlaps)
st_equals_b = _bool_b(S._law_equals, S._equals, _BOX)
st_contains_b = _bool_b(S._law_contains, S._contains, _BOX)
st_within_b = _bool_b(S._law_within, lambda x, y: S._contains(y, x), _BOX)


@pandas_udf(DoubleType())
def st_distance_b(a: pd.Series, b: pd.Series) -> pd.Series:
    """Box×box pairs (rects AND single points — the bounds ARE the
    geometry for both): axis-gap hypot over the whole batch; everything
    else the scalar kernel (same closest-pair semantics as ST_Distance)."""
    pa = PK.pack_wkb(_tolist(a))
    pb = PK.pack_wkb(_tolist(b))
    ma, ax1, ay1, ax2, ay2 = PK.box_bounds_np(pa)
    mb, bx1, by1, bx2, by2 = PK.box_bounds_np(pb)
    both = ma & mb
    out = np.full(pa.n, np.nan)
    if both.any():
        gx = np.maximum(0.0, np.maximum(bx1 - ax2, ax1 - bx2))
        gy = np.maximum(0.0, np.maximum(by1 - ay2, ay1 - by2))
        out[both] = np.hypot(gx, gy)[both]
    for i in np.flatnonzero(~both):
        wa, wb = _wkt_of(pa, i), _wkt_of(pb, i)
        v = S._distance(wa, wb)
        if v is not None:
            out[i] = v
    return pd.Series(out, index=a.index)


# ------------------------------------------------------------ registration

REGISTRY_B = {
    "ST_GeomFromWKT_B": st_geomfromwkt_b,
    "ST_AsText_B": st_astext_b,
    "ST_Area_B": st_area_b,
    "ST_NPoints_B": st_npoints_b,
    "ST_Length_B": st_length_b,
    "ST_Coords_B": st_coords_b,
    "ST_Transform_B": st_transform_b,
    "ST_BufferRound_B": st_bufferround_b,
    "ST_Centroid_B": st_centroid_b,
    "ST_Envelope_B": st_envelope_b,
    "ST_X_B": st_x_b,
    "ST_Y_B": st_y_b,
    "ST_Intersects_B": st_intersects_b,
    "ST_Disjoint_B": st_disjoint_b,
    "ST_Touches_B": st_touches_b,
    "ST_Overlaps_B": st_overlaps_b,
    "ST_Equals_B": st_equals_b,
    "ST_Contains_B": st_contains_b,
    "ST_Within_B": st_within_b,
    "ST_Crosses_B": st_crosses_b,
    "ST_Distance_B": st_distance_b,
}
