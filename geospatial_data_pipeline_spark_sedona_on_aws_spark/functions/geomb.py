"""Carrier bodies: ST_ functions over packed geometry batches.

The text surface (functions/spatial.py) parses and formats WKT in every
UDF, so a chained `ST_…(ST_…(…))` pays a text round trip per stage —
measured at ~63% of the buffer→area→npoints chain (SCALING.md, r7). Each
carrier function here is instead ONE body over kernel/packed.PackedBatch:
geometry arguments come in packed, a geometry result goes out packed, a
scalar result goes out as a pandas Series, and the measures, the CRS
projection, the coordinate maps (rotate, scale, translate, affine, snap,
reduce precision, expand), the convex round buffer, centroid, envelope
and the rect/point predicates run as whole-batch numpy math.

Text is the only geometry format that crosses the SQL boundary. The
bodies are cells of functions/table.ROWS, the one table of SQL names,
and table.CARRIER (read from it) maps each SQL name that has a body to
its `Carrier` (body, geometry-argument positions, geometry result?).
Two users:

- functions/chainrw's projection fuser runs a carrier chain as these
  bodies inside one fused Python call: `decode` parses each distinct
  geometry input once, and `encode` formats WKT only where a packed
  value surfaces;
- a row with a body and no lane registers `_adapt`: the same decode,
  body and encode behind one UDF. Its lone call is then the packed body
  too, so the lone call, every chain through it and the scalar kernel
  (kind -1 rows) give one answer. The table names which rows those are.

Decoding is a plain parse. Canonical rows become packed rows straight
from the lanes extracts; every other row takes the scalar parser. The
areal hygiene (kernel/geom.normalize) is the body of ST_GeomFromWKT,
where the text surface applies it, so every path gives a raw leaf the
same answer. Rows the vectorized kernels do not cover (Z,
GEOMETRYCOLLECTION, non-convex buffers, …) go through the SAME scalar
kernel as the text surface, and a geometry such a kernel produces stays
in the batch as its WKB bytes (kind -1). tests/test_path_parity.py pins
every path against the scalar kernels on raw input.

This is the PySpark-native equivalent of Sedona's binary GeometryUDT
interchange (the reference's five-call ST_ chain at
spark_job/process_geodata.py:102-139 never round-trips through text
either). Scale: row-local, per-Arrow-batch, no shuffle or driver state.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import pandas_udf

from ..kernel import geom as G
from ..kernel import geomtypes as GT
from ..kernel import packed as PK
from . import lanes as LN
from . import lanes_ops as LO
from . import spatial as S

# ------------------------------------------------------------ text edge


def decode(s: pd.Series) -> PK.PackedBatch:
    """A WKT column as a PackedBatch, with no hygiene (that is
    ST_GeomFromWKT's body). Dimension-joined geometry columns repeat a
    handful of distinct strings across the whole batch (e.g. 50 region
    rects x 600k rows): from 4096 rows on, a batch that is <= 1/4
    distinct parses each distinct value ONCE and gathers it back.
    factorize is one hash pass (~0.2 us/row), so it runs only when the
    first n/4 + 2 rows repeat a value: a batch of at most n/4 distinct
    values always does (one of those rows may be NULL, which factorize
    leaves out), and a batch of distinct strings, the common case, pays
    a hash of a quarter of its rows instead."""
    if len(s) >= 4096:
        head = s.to_numpy()[:len(s) // 4 + 2]
        if len(pd.unique(head)) < len(head):
            codes, uniques = pd.factorize(s)
            if len(uniques) <= len(s) // 4:
                return PK.take(_parse(pd.Series(uniques, dtype=object)),
                               codes)
    return _parse(s)


def _parse(s: pd.Series) -> PK.PackedBatch:
    """Text edge off the shared lanes patterns: canonical single-ring
    POLYGON (closing vertex optional), LINESTRING, POINT and MULTIPOINT
    text become one packed ring per row, in text order. A bare RE2 match
    validates each row; its numbers are the text between the type prefix
    and the closing parentheses, split and cast by arrow, the same
    correctly rounded double float() gives, so every such row equals the
    scalar parse. The classes match in that order (a row has one type
    prefix, so at most one matches) and stop once every non-NULL row is
    claimed. Any other row (Z, EMPTY, holes, parenthesized MULTIPOINT
    members, stray whitespace, non-finite coordinates, a ring of fewer
    than three distinct vertices) takes the scalar parser, and only
    those rows go through WKB."""
    b = LN.batch_of(s)
    todo = s.notna().to_numpy()
    pieces = []                 # (row mask, kind, points per row, xy)
    for pat, kind, head, tail in _CLASSES:
        if not todo.any():
            break
        m = b.match(pat) & todo
        if not m.any():
            continue
        npts, xy = LN._body_xy(b.arr, np.flatnonzero(m), head, tail)
        if kind == PK.POLYGON:
            m, npts, xy = _open_rings(m, npts, xy)
        pieces.append((m, kind, npts, xy))
        todo &= ~m
    rest = np.flatnonzero(todo)
    slow = PK.pack_wkb([GT.to_wkb(GT.parse_wkt(v))
                        for v in s.to_numpy()[rest]])
    fast = sum(int(m.sum()) for m, *_ in pieces)
    out = PK.assemble(
        np.concatenate([np.full(m.sum(), k) for m, k, _, _ in pieces]
                       + [slow.kind]),
        np.concatenate([np.ones(fast, np.int64), slow.rings_per_geom()]),
        np.concatenate([np.broadcast_to(k, m.sum()) for m, _, k, _ in pieces]
                       + [slow.ring_len()]),
        np.concatenate([xy for *_, xy in pieces] + [slow.coords]),
        np.concatenate([np.ones(fast, bool), slow.outer]),
        {fast + i: v for i, v in slow.fallback.items()})
    order = np.concatenate([np.flatnonzero(m) for m, *_ in pieces] + [rest])
    pos = np.full(len(s), -1, dtype=np.int64)
    pos[order] = np.arange(len(order))
    return PK.take(out, pos)


#: (pattern, kind, type-prefix length, closing length) of the text
#: classes _parse claims
_CLASSES = ((LO.FPOLY_ANY, PK.POLYGON, len("POLYGON (("), 2),
            (LO.FLINE_ANY, PK.LINESTRING, len("LINESTRING ("), 1),
            (LN.FPOINT2, PK.POINT, len("POINT ("), 1),
            (LO.FMPOINT_ANY, PK.MULTIPOINT, len("MULTIPOINT ("), 1))


def _open_rings(m, npts, xy):
    """The parser's ring rule on the rings parsed for rows m: drop a
    closing vertex equal to the first, keep rings of three or more
    vertices with finite coordinates (the rest stay unclaimed)."""
    end = np.cumsum(npts)
    first, last = xy[end - npts], xy[end - 1]
    close = (first == last).all(axis=1)
    keep = np.ones(len(xy), dtype=bool)
    keep[(end - 1)[close]] = False
    npts = npts - close
    ok = (npts >= 3) & (np.bincount(
        np.repeat(np.arange(len(npts)), npts + close),
        weights=~np.isfinite(xy).all(axis=1), minlength=len(npts)) == 0)
    keep &= np.repeat(ok, npts + close)
    m = m.copy()
    m[m] = ok
    return m, npts[ok], xy[keep]


def encode(p: PK.PackedBatch, index) -> pd.Series:
    """A packed geometry result as its WKT column."""
    return pd.Series(_wkt_batch(p), index=index, dtype=object)


def _closed_rings(p: PK.PackedBatch):
    """(coordinate index of every ring point with areal rings closed,
    points per ring, areal ring mask, geometry row per ring)."""
    ring_geom = np.repeat(np.arange(p.n), p.rings_per_geom())
    close = np.isin(p.kind[ring_geom], PK._AREAL)
    take = p.ring_len() + close
    idx = PK._multi_arange(p.ring_off[:-1], take)
    idx[(np.cumsum(take) - 1)[close]] = p.ring_off[:-1][close]
    return idx, take, close, ring_geom


def _wkt_batch(p: PK.PackedBatch) -> list:
    """GT.to_wkt of every row as whole-batch string ops: numbers through
    lanes.fmt_f64_full (bit-equal to the kernel's _fmt), then arrow list
    joins from points to rings to rows; a one-member multi prints as its
    single kind, as GT.to_wkt does. Rows held as bytes, rows with a
    non-finite coordinate and multi-polygon rows go per row."""
    sx, okx = LN.fmt_f64_full(p.coords[:, 0])
    sy, oky = LN.fmt_f64_full(p.coords[:, 1])
    pt = p.kind == PK.POINT
    if (okx.all() and oky.all() and (pt | (p.kind == 0)).all()
            and (p.rings_per_geom() == pt).all()
            and np.array_equal(p.ring_off, np.arange(len(p.coords) + 1))):
        # only one-vertex points and NULLs: coordinate i is the i-th
        # point's, and one element-wise join prints them
        out = np.full(p.n, None, dtype=object)
        out[pt] = pc.binary_join_element_wise(
            "POINT (", sx, " ", sy, ")", "").to_numpy(zero_copy_only=False)
        return out.tolist()
    idx, take, close, ring_geom = _closed_rings(p)
    pts = pc.binary_join_element_wise(sx, sy, " ").take(pa.array(idx))
    ring_off = np.zeros(len(take) + 1, dtype=np.int64)
    np.cumsum(take, out=ring_off[1:])
    rings = pc.binary_join(pa.ListArray.from_arrays(ring_off, pts), ", ")
    rings = pc.binary_join_element_wise("(", rings, ")", "")
    body = pc.binary_join(pa.ListArray.from_arrays(p.geom_off, rings),
                          ", ").to_numpy(zero_copy_only=False)
    k, nr = p.kind, p.rings_per_geom()
    areal, lineal = np.isin(k, PK._AREAL), np.isin(k, PK._LINEAL)
    puntal = np.isin(k, PK._PUNTAL)
    npolys = np.bincount(ring_geom, weights=p.outer & close, minlength=p.n)
    multi = np.where(k == PK.MULTIPOINT, np.bincount(
        ring_geom, weights=take, minlength=p.n), nr) > 1
    out = np.select(
        [nr == 0, puntal & multi, puntal, lineal & multi, lineal],
        ["", "MULTIPOINT ", "POINT ", "MULTILINESTRING (", "LINESTRING "],
        "POLYGON (").astype(object)
    out[nr > 0] += body[nr > 0]
    out[(lineal & multi) | (areal & (nr > 0))] += ")"
    out[(nr == 0) & puntal] = "POINT EMPTY"
    out[(nr == 0) & lineal] = "LINESTRING EMPTY"
    out[(nr == 0) & areal] = "POLYGON EMPTY"
    out[k == 0] = None
    bad = ~(okx & oky)
    slow = (k == -1) | (npolys > 1) | (np.bincount(
        np.repeat(np.arange(p.n), np.diff(p.geom_coord_off()))[bad],
        minlength=p.n) > 0)
    for i in np.flatnonzero(slow).tolist():
        out[i] = GT.to_wkt(PK.row_tgeom(p, i))
    return out.tolist()


# ------------------------------------------------------------ bodies
#
# Geometry arguments arrive as PackedBatch, every other argument as the
# pandas Series Spark passed. Scalar results are Series over the batch's
# row positions.

def _same(p: PK.PackedBatch) -> PK.PackedBatch:
    """ST_AsText: the geometry itself (WKT where it surfaces)."""
    return p


def _normalize(p: PK.PackedBatch) -> PK.PackedBatch:
    """ST_GeomFromWKT / ST_GeomFromText: the text surface's areal hygiene
    (kernel/geom.normalize: outer rings CCW, holes CW, repeated vertices
    and degenerate rings dropped, one polygon printed as POLYGON). A row
    normalize() leaves as it is passes through; a ring whose only fault
    is its orientation is reversed in a copy of the coordinates; a row
    with a repeated vertex or a degenerate ring is normalized on its own
    and held as its WKB (kind -1). Other kinds, Z and GEOMETRYCOLLECTION
    rows stay as they are, as on the text path."""
    areal = np.isin(p.kind, PK._AREAL)
    if not areal.any():
        return p
    ring_geom = np.repeat(np.arange(p.n), p.rings_per_geom())
    repeat, sa = PK.ring_faults_np(p)
    on = areal[ring_geom]
    bad = on & (repeat | (p.ring_len() < 3) | (sa == 0))
    flip = on & ~bad & ((sa > 0) != p.outer)
    slow = np.bincount(ring_geom[bad], minlength=p.n) > 0
    one = np.bincount(ring_geom, weights=p.outer, minlength=p.n) <= 1
    kind = np.where(areal & one, PK.POLYGON, p.kind).astype(np.int8)
    coords = p.coords
    if flip.any():
        start, ln = p.ring_off[:-1][flip], p.ring_len()[flip]
        at = PK._multi_arange(start, ln)
        coords = coords.copy()
        coords[at] = p.coords[np.repeat(2 * start + ln - 1, ln) - at]
    if not slow.any():
        if coords is p.coords and (kind == p.kind).all():
            return p                 # unchanged
        return PK.PackedBatch(p.n, kind, p.geom_off, p.ring_off, p.outer,
                              coords, p.fallback)
    keep = ~slow[ring_geom]
    out = PK.assemble(np.where(slow, -1, kind),
                      np.where(slow, 0, p.rings_per_geom()),
                      p.ring_len()[keep],
                      coords[np.repeat(keep, p.ring_len())],
                      p.outer[keep], dict(p.fallback))
    for i in np.flatnonzero(slow).tolist():
        g = G.normalize(PK.row_tgeom(p, i)[1])
        out.fallback[i] = GT.to_wkb(
            ("POLYGON" if len(g) <= 1 else "MULTIPOLYGON", g))
    return out


def _area(p: PK.PackedBatch) -> pd.Series:
    out = pd.Series(PK.area_np(p))
    for i, raw in p.fallback.items():
        # Z / GC rows: same convention as the text _area (strip_z; GC
        # sums areal members)
        out.iloc[i] = GT.area_of(GT.strip_z(GT.parse_wkb(raw)))
    out[p.kind == 0] = None
    return out


def _npoints(p: PK.PackedBatch) -> pd.Series:
    out = pd.Series(PK.npoints_np(p), dtype="Int64")
    for i, raw in p.fallback.items():
        out.iloc[i] = GT.npoints(GT.parse_wkb(raw))
    out[p.kind == 0] = None
    return out


def _num_points(p: PK.PackedBatch) -> pd.Series:
    """PostGIS ST_NumPoints: the vertex count of a LINESTRING, NULL for
    every other kind and for LINESTRING EMPTY."""
    out = pd.Series(PK.npoints_np(p), dtype="Int64")
    out[(p.kind != PK.LINESTRING) | (p.rings_per_geom() == 0)] = None
    for i, raw in p.fallback.items():
        kind, data = GT.parse_wkb(raw)      # S._num_points, no reprint
        if GT.basekind(kind) == "LINESTRING" and data:
            out.iloc[i] = len(data[0])
    return out


def _length(p: PK.PackedBatch) -> pd.Series:
    out = pd.Series(PK.length_np(p))
    for i, raw in p.fallback.items():
        out.iloc[i] = GT.length(GT.parse_wkb(raw))
    out[p.kind == 0] = None
    return out


def _coords(p: PK.PackedBatch) -> pd.Series:
    """Flattened [x1, y1, x2, y2, …] per geometry, areal rings CLOSED —
    element-for-element the numbers a WKT-text split would yield
    (operators/dissolve.wkt_nums_sql), so try_element_at positions match.
    One gather over the whole batch; rows held as bytes go per row."""
    idx, take, _, ring_geom = _closed_rings(p)
    flat = p.coords[idx].ravel().tolist()
    row_off = np.zeros(p.n + 1, dtype=np.int64)
    np.cumsum(np.bincount(ring_geom, weights=2 * take,
                          minlength=p.n).astype(np.int64), out=row_off[1:])
    out: list = [None] * p.n
    for i in np.flatnonzero(p.kind > 0).tolist():
        out[i] = flat[row_off[i]:row_off[i + 1]]
    for i, raw in p.fallback.items():
        tg = GT.parse_wkb(raw)
        out[i] = [float(v) for pt in GT.points_of(tg) for v in pt[:2]]
    return pd.Series(out, dtype=object)


def _xy(p: PK.PackedBatch, axis: int) -> pd.Series:
    """ST_X/ST_Y: coordinate for POINT rows, null for any other kind
    (the Sedona convention, same as the text _st_xy)."""
    co = p.geom_coord_off()
    vals = np.full(p.n, np.nan)
    pts = (p.kind == PK.POINT) & (co[:-1] < co[1:])
    if pts.any():
        vals[pts] = p.coords[co[:-1][pts], axis]
    for i, raw in p.fallback.items():
        v = S._st_xy(GT.to_wkt(GT.parse_wkb(raw)), axis)
        if v is not None:
            vals[i] = v
    return pd.Series(vals)


def _centroid_scalar(tg):
    """Same dispatch as the text _centroid (strip_z projection; areal via
    the normalized area-weighted form, puntal/lineal via the JTS
    by-dimension conventions, GEOMETRYCOLLECTION raises)."""
    tg = GT.strip_z(tg)
    kind, data = tg
    if kind in ("POLYGON", "MULTIPOLYGON"):
        return S._centroid_areal_val(G.normalize(data))
    return GT.centroid(tg)  # raises for GEOMETRYCOLLECTION (parity)


def _centroid(p: PK.PackedBatch) -> PK.PackedBatch:
    elig, cx, cy = PK.centroid_np(p)
    for i in np.flatnonzero(~elig & (p.kind != 0)):
        c = _centroid_scalar(PK.row_tgeom(p, i))
        if c is not None:
            cx[i], cy[i] = c
            elig[i] = True
    return PK.assemble(np.where(elig, PK.POINT, 0), elig,
                       np.ones(int(elig.sum()), dtype=np.int64),
                       np.column_stack([cx[elig], cy[elig]]))


def _envelope(p: PK.PackedBatch) -> PK.PackedBatch:
    """JTS getEnvelope shape rules off the vectorized bounds: areal input
    always yields the 4-corner polygon (text-path parity); other kinds
    degrade to POINT / flat LINESTRING / POLYGON EMPTY."""
    bb = PK.bounds_np(p)
    x1, y1, x2, y2 = bb[:, 0], bb[:, 1], bb[:, 2], bb[:, 3]
    live = p.kind > 0
    nonempty = live & (x1 == x1)
    areal = np.isin(p.kind, PK._AREAL)
    box = nonempty & (areal | ((x1 != x2) & (y1 != y2)))
    pt = nonempty & ~box & (x1 == x2) & (y1 == y2)
    return _put_scalar(
        _boxes(x1, y1, x2, y2, box, pt, nonempty & ~box & ~pt,
               live & ~nonempty),
        np.asarray(list(p.fallback), dtype=np.int64),
        lambda i: GT.to_wkb(GT.parse_wkt(GT.envelope_wkt(
            GT.strip_z(GT.parse_wkb(p.fallback[i]))))))


def _boxes(x1, y1, x2, y2, box, pt, flat, empty) -> PK.PackedBatch:
    """Per row: the box x1 y1, x2 y1, x2 y2, x1 y2 (the CCW walk, stored
    open), the POINT x1 y1, the flat LINESTRING x1 y1, x2 y2, or POLYGON
    EMPTY; a row in none of the four masks is NULL."""
    kind = np.select([box | empty, pt, flat],
                     [PK.POLYGON, PK.POINT, PK.LINESTRING], 0)
    npts = np.select([box, pt, flat], [4, 1, 2], 0)
    some = box | pt | flat
    first = np.cumsum(npts) - npts       # each row's first coordinate
    xy = np.empty((int(npts.sum()), 2))
    xy[first[some]] = np.column_stack([x1, y1])[some]
    far = box | flat
    xy[first[far] + 1] = np.column_stack([x2, np.where(box, y1, y2)])[far]
    xy[first[box] + 2] = np.column_stack([x2, y2])[box]
    xy[first[box] + 3] = np.column_stack([x1, y2])[box]
    return PK.assemble(kind, some, npts[some], xy)


def _transform(p: PK.PackedBatch, src: pd.Series,
               dst: pd.Series) -> PK.PackedBatch:
    """A NULL source or target CRS gives a NULL row, as in Sedona."""
    if p.n and src.nunique(dropna=False) == 1 \
            and dst.nunique(dropna=False) == 1:
        if pd.isna(src.iloc[0]) or pd.isna(dst.iloc[0]):
            return _no_rings(p.n)
        try:
            return PK.transform_np(p, str(src.iloc[0]), str(dst.iloc[0]))
        except ValueError as exc:
            raise G.GeomError(f"ST_Transform: {exc}") from exc
    # mixed CRS pairs in one batch: per-row scalar
    live = (p.kind != 0) & src.notna().to_numpy() & dst.notna().to_numpy()
    return _put_scalar(_no_rings(p.n), np.flatnonzero(live),
                       lambda i: GT.to_wkb(PK._transform_tgeom(
                           PK.row_tgeom(p, i), str(src.iloc[i]),
                           str(dst.iloc[i]))))


def _no_rings(n: int) -> PK.PackedBatch:
    """n NULL rows, to be filled by _put_scalar."""
    return PK.assemble(np.zeros(n, dtype=np.int8), np.zeros(n, np.int64),
                       [], np.empty((0, 2)))


def _put_scalar(out: PK.PackedBatch, rows, row_fn) -> PK.PackedBatch:
    """Fill `rows` of `out` (rows that own no rings) with the WKB bytes
    row_fn(i) a scalar kernel produced, held as kind -1; a None result
    leaves the row NULL."""
    for i in rows.tolist():
        raw = row_fn(i)
        if raw is not None:
            out.kind[i] = -1
            out.fallback[i] = raw
    return out


def _buffer_round_scalar(tg, d: float, q: int) -> bytes:
    """Rows the vectorized convex walk doesn't cover: the scalar
    spatial._buffer_round, WKB out."""
    return _wkb_of(S._buffer_round(GT.to_wkt(tg), d, q))


def _param(s: pd.Series) -> np.ndarray:
    """A numeric argument as float64, NULL as NaN."""
    return pd.to_numeric(s, errors="coerce").to_numpy(dtype=np.float64,
                                                      na_value=np.nan)


def _buffer_round(p: PK.PackedBatch, d: pd.Series,
                  q: pd.Series) -> PK.PackedBatch:
    dd, qq = _param(d), _param(q)
    dd = np.where(qq == qq, dd, np.nan)   # NULL quadsegs: NULL
    qn = np.unique(qq[qq == qq])
    todo = (p.kind != 0) & (dd == dd)
    if len(qn) > 1:
        # per-row quadsegs: the vectorized walk assumes one q for the
        # whole batch, so varying-q batches go row-by-row through the
        # scalar kernel with each row's own q.
        return _put_scalar(_no_rings(p.n), np.flatnonzero(todo), lambda i:
                           _buffer_round_scalar(PK.row_tgeom(p, i),
                                                float(dd[i]), int(qq[i])))
    quad = int(qn[0]) if len(qn) else 8
    fast, coords, off = PK.buffer_round_np(p, np.nan_to_num(dd), quad)
    out = PK.assemble(np.where(fast, PK.POLYGON, 0), fast, np.diff(off),
                      coords)
    return _put_scalar(out, np.flatnonzero(todo & ~fast), lambda i:
                       _buffer_round_scalar(PK.row_tgeom(p, i),
                                            float(dd[i]), quad))


# Coordinate maps. Each is one numpy expression over p.coords with the
# row's arguments gathered per coordinate, in the scalar kernel's
# operation order, so every coordinate is bit-equal to spatial.py's. A
# NULL in any argument gives a NULL row. Rows held as WKB (Z,
# GEOMETRYCOLLECTION) go through that scalar kernel on their WKT.

def _coord_map(p: PK.PackedBatch, args: list, fn, scalar) -> PK.PackedBatch:
    """p with (x, y) -> fn(x, y, at) over every coordinate, `at` being
    each coordinate's row (index the row arguments with it); kind -1
    rows take scalar(wkt, *row arguments as floats)."""
    ok = ~np.isnan(np.asarray(args)).any(axis=0)
    if ((p.kind != 0) & ~ok).any():
        p = PK.take(p, np.where(ok, np.arange(p.n), -1))
    at = np.repeat(np.arange(p.n), np.diff(p.geom_coord_off()))
    x, y = fn(p.coords[:, 0], p.coords[:, 1], at)
    out = PK.PackedBatch(p.n, np.where(p.kind == -1, 0, p.kind).astype(
        np.int8), p.geom_off, p.ring_off, p.outer, np.column_stack([x, y]),
        {})
    return _put_scalar(out, np.asarray(list(p.fallback), dtype=np.int64),
                       lambda i: _wkb_of(scalar(_wkt_of(p, i), *(
                           float(a[i]) for a in args))))


def _wkb_of(w):
    return None if w is None else GT.to_wkb(GT.parse_wkt(w))


def _rotate(p: PK.PackedBatch, t: pd.Series) -> PK.PackedBatch:
    """cos and sin once per distinct angle, through math (lanes._trig),
    as the scalar kernel takes them."""
    th = np.where(p.kind != 0, _param(t), np.nan)
    c, s = LN._trig(pd.Series(th))

    def rot(x, y, at):
        ca, sa = c[at], s[at]
        return ca * x - sa * y, sa * x + ca * y

    return _coord_map(p, [th], rot, S._rotate)


def _scale(p: PK.PackedBatch, fx: pd.Series,
           fy: pd.Series) -> PK.PackedBatch:
    a, b = _param(fx), _param(fy)
    return _coord_map(p, [a, b], lambda x, y, at: (x * a[at], y * b[at]),
                      S._scale)


def _translate(p: PK.PackedBatch, dx: pd.Series,
               dy: pd.Series) -> PK.PackedBatch:
    a, b = _param(dx), _param(dy)
    return _coord_map(p, [a, b], lambda x, y, at: (x + a[at], y + b[at]),
                      S._translate)


def _affine(p: PK.PackedBatch, *abdexy: pd.Series) -> PK.PackedBatch:
    a, b, d, e, xo, yo = args = [_param(v) for v in abdexy]
    return _coord_map(
        p, args, lambda x, y, at: (a[at] * x + b[at] * y + xo[at],
                                   d[at] * x + e[at] * y + yo[at]),
        S._affine)


def _snap_to_grid(p: PK.PackedBatch, size: pd.Series) -> PK.PackedBatch:
    """round(q) * size with q = coordinate / size: np.rint rounds half to
    even as round() does, + 0.0 drops the sign of a zero that round()'s
    int does not keep, and a non-finite q raises round()'s error. A size
    <= 0 gives NULL."""
    sz = _param(size)
    sz = np.where(sz > 0, sz, np.nan)

    def snap(x, y, at):
        g = sz[at, None]
        with np.errstate(over="ignore"):
            q = np.column_stack([x, y]) / g
        bad = ~np.isfinite(q)
        if bad.any():
            round(float(q[bad][0]))          # raises, as the kernel does
        r = (np.rint(q) + 0.0) * g
        return r[:, 0], r[:, 1]

    return _coord_map(p, [sz], snap, S._snap_to_grid)


def _reduce_precision(p: PK.PackedBatch, d: pd.Series) -> PK.PackedBatch:
    """Python's round(v, digits) per coordinate, which rounds the decimal
    value correctly; np.round scales, rints and unscales, which can land
    on a neighbouring double."""
    nd = _param(d)

    def rnd(x, y, at):
        xy, n = np.column_stack([x, y]), nd[at]
        for k in np.unique(n).tolist():
            m = n == k
            xy[m] = np.reshape([round(v, int(k))
                                for v in xy[m].ravel().tolist()], (-1, 2))
        return xy[:, 0], xy[:, 1]

    return _coord_map(p, [nd], rnd,
                      lambda w, v: S._reduce_precision(w, int(v)))


def _expand(p: PK.PackedBatch, d: pd.Series) -> PK.PackedBatch:
    """PostGIS ST_Expand: the bounds grown by d on every side, with the
    scalar kernel's branches (a box; a POINT or a LINESTRING where the
    grown bounds are degenerate; POLYGON EMPTY past that and for empty
    input). Rows with a NaN coordinate, whose min and max Python takes
    in vertex order, and rows held as WKB go through the scalar kernel."""
    dd = _param(d)
    bb = PK.bounds_np(p)
    co = p.geom_coord_off()
    has = co[:-1] < co[1:]
    live = (p.kind != 0) & (dd == dd)
    slow = live & ((p.kind == -1) | (has & np.isnan(bb).any(axis=1)))
    x1, y1 = bb[:, 0] - dd, bb[:, 1] - dd
    x2, y2 = bb[:, 2] + dd, bb[:, 3] + dd
    empty = live & ~slow & (~has | (x1 > x2) | (y1 > y2))
    ok = live & ~slow & ~empty
    pt = ok & (x1 == x2) & (y1 == y2)
    flat = ok & ~pt & ((x1 == x2) | (y1 == y2))
    return _put_scalar(
        _boxes(x1, y1, x2, y2, ok & ~pt & ~flat, pt, flat, empty),
        np.flatnonzero(slow),
        lambda i: _wkb_of(S._expand(_wkt_of(p, i), float(dd[i]))))


def _wkt_of(p: PK.PackedBatch, i: int):
    tg = PK.row_tgeom(p, i)
    return None if tg is None else GT.to_wkt(tg)


def _pred(law, scalar_fn, bounds=PK.rect_bounds_np):
    """Binary twin of the text surface's _rect_pair_predicate: where both
    sides' packed bounds are exact (kernel/packed.rect_bounds_np —
    value-level, no text contract needed) the DE-9IM law is whole-batch
    interval arithmetic; every other row routes through the SAME scalar
    kernel as the text UDFs (via one WKT conversion, those rows only)."""
    def body(pa: PK.PackedBatch, pb: PK.PackedBatch) -> pd.Series:
        out = S._pair_law(bounds(pa), bounds(pb), law,
                          lambda i: scalar_fn(_wkt_of(pa, i),
                                              _wkt_of(pb, i)))
        return pd.Series(out, dtype="object")

    return body


def _distance(pa: PK.PackedBatch, pb: PK.PackedBatch) -> pd.Series:
    """Box×box pairs (rects AND single points — the bounds ARE the
    geometry for both): axis-gap hypot over the whole batch; everything
    else the scalar kernel (same closest-pair semantics as ST_Distance)."""
    ma, ax1, ay1, ax2, ay2 = PK.box_bounds_np(pa)
    mb, bx1, by1, bx2, by2 = PK.box_bounds_np(pb)
    both = ma & mb
    out = np.full(pa.n, np.nan)
    if both.any():
        gx = np.maximum(0.0, np.maximum(bx1 - ax2, ax1 - bx2))
        gy = np.maximum(0.0, np.maximum(by1 - ay2, ay1 - by2))
        out[both] = np.hypot(gx, gy)[both]
    for i in np.flatnonzero(~both):
        v = S._distance(_wkt_of(pa, i), _wkt_of(pb, i))
        if v is not None:
            out[i] = v
    return pd.Series(out)


# ------------------------------------------------ carrier and adapter

class Carrier(NamedTuple):
    """A packed body, its geometry-argument positions, and whether its
    result is a geometry (WKT where it surfaces)."""
    body: Callable
    geom: tuple
    produces: bool

    @property
    def hygiene(self) -> bool:
        """The body of ST_GeomFromWKT or ST_AsText: it normalizes or
        passes the geometry, and computes nothing from it."""
        return self.body in (_same, _normalize)

    @property
    def reprints(self) -> bool:
        """Its lone call formats a new WKT: every geometry body but
        ST_AsText's, which passes its text on. Its packed result then
        holds the kinds that text names (kernel/packed.as_printed)."""
        return self.produces and self.body is not _same


def _adapt(name: str, body, geom, rtype):
    """The registered one-node UDF: decode the geometry arguments, run
    the body, encode a geometry result as WKT."""
    def fn(*cols: pd.Series) -> pd.Series:
        out = body(*(decode(v) if i in geom else v
                     for i, v in enumerate(cols)))
        if isinstance(out, PK.PackedBatch):
            return encode(out, cols[0].index)
        out.index = cols[0].index
        return out

    fn.__name__ = fn.__qualname__ = name.lower()
    return pandas_udf(fn, rtype)

