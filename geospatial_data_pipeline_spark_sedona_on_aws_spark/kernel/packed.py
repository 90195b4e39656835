"""Packed numpy batch: the engine's in-memory form of a geometry column
inside a Python UDF.

A whole Arrow batch of geometries becomes ONE coordinate array plus
offset tables, and every vectorizable operator (area, npoints, length,
CRS transform, convex round buffer, centroid, envelope) runs as numpy
array math over the entire batch. Carrier bodies (functions/geomb.py)
take and return this form, so a chain of them inside one fused Python
call (functions/chainrw.py) parses each text geometry input once and
formats WKT only where a geometry value surfaces. Sedona passes its
binary GeometryUDT between operators the same way (reference
spark_job/process_geodata.py:102-139 chains five ST_ calls with zero
text round trips).

`pack_wkb` reads the kernel's own ISO little-endian WKB
(kernel/geomtypes.py:to_wkb): the text edge sends it the rows its batch
extracts do not claim, parsed one by one. `take` gathers rows.

Scale note: everything here is per-Arrow-batch and row-local — no driver
state, no shuffle implications.

Representation (one PackedBatch per Arrow batch):
    kind      int8 (n,)   WKB type code 1..6; 0 = SQL NULL;
                          -1 = a row held as its WKB bytes (in `fallback`):
                          Z / GEOMETRYCOLLECTION / big-endian input, or a
                          row a scalar kernel produced. Every vectorized
                          kernel sends such rows to its scalar path
    geom_off  int64 (n+1,) ring-index range per geometry
    ring_off  int64 (R+1,) coord-index range per ring (rings stored OPEN:
                          no closing duplicate, like kernel/geom.py)
    outer     bool (R,)   areal: outer ring (False = hole); True otherwise
    coords    (N, 2) float64
    fallback  dict[int, bytes]

MULTIPOINT packs as ONE ring holding all member points; MULTILINESTRING /
MULTIPOLYGON flatten their members' rings in order (outer flags recover
the polygon grouping: a new polygon starts at each outer ring).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import geom as G
from . import geomtypes as GT
from . import transform as T

GeomError = G.GeomError

# WKB type codes (kernel/geomtypes.py:_WKB_CODE)
POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 4, 5, 6
_AREAL = (POLYGON, MULTIPOLYGON)
_LINEAL = (LINESTRING, MULTILINESTRING)
_PUNTAL = (POINT, MULTIPOINT)


class PackedBatch:
    __slots__ = ("n", "kind", "geom_off", "ring_off", "outer", "coords",
                 "fallback")

    def __init__(self, n, kind, geom_off, ring_off, outer, coords,
                 fallback):
        self.n = n
        self.kind = kind
        self.geom_off = geom_off
        self.ring_off = ring_off
        self.outer = outer
        self.coords = coords
        self.fallback = fallback

    def ring_len(self) -> np.ndarray:
        return self.ring_off[1:] - self.ring_off[:-1]

    def rings_per_geom(self) -> np.ndarray:
        return self.geom_off[1:] - self.geom_off[:-1]

    def geom_coord_off(self) -> np.ndarray:
        """(n+1,) coord-index range per geometry."""
        return self.ring_off[self.geom_off]


# ------------------------------------------------------------------ pack

def pack_wkb(vals) -> PackedBatch:
    """Decode an iterable of WKB bytes / None into a PackedBatch. 2D
    little-endian simple types decode via np.frombuffer (zero text);
    anything else (Z, GEOMETRYCOLLECTION, big-endian) becomes a fallback
    row whose original bytes ride along untouched.

    Uniform batches — every non-null value a single-ring POLYGON of the
    SAME vertex count (buffered parcels, rect fixtures) — decode in one
    reshape over the concatenated bytes instead of a per-row loop."""
    if not isinstance(vals, list):
        vals = list(vals)
    fast = _pack_uniform_poly1(vals)
    if fast is not None:
        return fast
    try:
        fast = _pack_ragged(vals)
    except (ValueError, IndexError, OverflowError):
        fast = None                       # malformed counts: strict loop
    if fast is not None:
        return fast
    kinds = []
    ring_lens: list[int] = []
    outer: list[bool] = []
    rings_per: list[int] = []
    chunks: list[np.ndarray] = []
    fallback: dict[int, bytes] = {}
    u32 = struct.Struct("<I").unpack_from

    for i, b in enumerate(vals):
        if b is None:
            kinds.append(0)
            rings_per.append(0)
            continue
        b = bytes(b)
        if len(b) < 5 or b[0] != 1:
            kinds.append(-1)
            rings_per.append(0)
            fallback[i] = b
            continue
        (code,) = u32(b, 1)
        if code < 1 or code > 6:
            kinds.append(-1)
            rings_per.append(0)
            fallback[i] = b
            continue
        try:
            nr = _pack_one(b, code, u32, ring_lens, outer, chunks)
        except (struct.error, ValueError, GeomError):
            kinds.append(-1)
            rings_per.append(0)
            fallback[i] = b
            continue
        kinds.append(code)
        rings_per.append(nr)

    coords = (np.concatenate(chunks) if chunks
              else np.empty((0, 2), dtype=np.float64))
    return assemble(kinds, rings_per, ring_lens, coords, outer, fallback)


def _pack_uniform_poly1(vals: list):
    """Whole-batch decode when every non-null value is a same-length
    single-ring 2D LE POLYGON (header-checked): one bytes-join, one
    reshape, one vectorized closing-dup drop. Returns None when the batch
    isn't uniform (the generic per-row loop handles it)."""
    n = len(vals)
    first = None
    for v in vals:
        if v is not None:
            first = v
            break
    if first is None:
        return PackedBatch(n, np.zeros(n, dtype=np.int8),
                           np.zeros(n + 1, dtype=np.int64),
                           np.zeros(1, dtype=np.int64),
                           np.zeros(0, dtype=bool),
                           np.empty((0, 2), dtype=np.float64), {})
    L = len(first)
    if L < 13 + 16 * 3 or (L - 13) % 16 != 0:
        return None
    hdr = bytes(first[:13])
    if hdr[:9] != b"\x01\x03\x00\x00\x00\x01\x00\x00\x00":
        return None
    (npts,) = struct.unpack_from("<I", hdr, 9)
    if 13 + 16 * npts != L or npts < 4:
        return None
    rows = []
    present = np.zeros(n, dtype=bool)
    for i, v in enumerate(vals):
        if v is None:
            continue
        if len(v) != L:
            return None
        rows.append(v)
        present[i] = True
    big = b"".join(bytes(v) for v in rows)
    m = len(rows)
    raw = np.frombuffer(big, dtype=np.uint8).reshape(m, L)
    htmpl = np.frombuffer(hdr, dtype=np.uint8)
    if not (raw[:, :13] == htmpl).all():
        return None
    xy = np.ascontiguousarray(raw[:, 13:]).view("<f8").reshape(m, npts, 2)
    closed = (xy[:, 0, 0] == xy[:, -1, 0]) & (xy[:, 0, 1] == xy[:, -1, 1])
    if not closed.all():
        return None  # mixed open/closed — rare; generic path
    coords = np.ascontiguousarray(xy[:, :-1].reshape(m * (npts - 1), 2),
                                  dtype=np.float64)
    kind = np.where(present, POLYGON, 0).astype(np.int8)
    geom_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(present, out=geom_off[1:])
    ring_off = np.arange(m + 1, dtype=np.int64) * (npts - 1)
    return PackedBatch(n, kind, geom_off, ring_off,
                       np.ones(m, dtype=bool), coords, {})


def _multi_arange(starts, lens) -> np.ndarray:
    """Concatenation of arange(starts[i], starts[i] + lens[i]) for all i,
    with no Python loop (the cumsum-of-steps trick). Zero-length entries
    are skipped."""
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(lens, dtype=np.int64)
    keep = lens > 0
    if not keep.all():
        starts, lens = starts[keep], lens[keep]
    if not len(lens):
        return np.empty(0, dtype=np.int64)
    total = int(lens.sum())
    step = np.ones(total, dtype=np.int64)
    step[0] = starts[0]
    ends = np.cumsum(lens)[:-1]
    step[ends] = starts[1:] - starts[:-1] - lens[:-1] + 1
    return np.cumsum(step)


def _u32_at(u8: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Little-endian uint32 reads at arbitrary byte positions."""
    return (u8[pos].astype(np.int64)
            | (u8[pos + 1].astype(np.int64) << 8)
            | (u8[pos + 2].astype(np.int64) << 16)
            | (u8[pos + 3].astype(np.int64) << 24))


def _f8_at(u8: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Gather bytes at idx (len divisible by 16) and view as (m, 2) f8."""
    g = np.ascontiguousarray(u8[idx])
    return g.view("<f8").reshape(-1, 2)


def _pack_ragged(vals: list, rows=None, present=None):
    """Single-kind ragged vectorized decode (r9, verdict item 2): every
    non-null value shares ONE little-endian 2D WKB code in {POINT,
    LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING}, with arbitrary
    per-row vertex counts and (for POLYGON) arbitrary ring counts — a
    wavefront pass per ring level replaces the per-row `frombuffer` loop.
    Returns None when the batch doesn't qualify; the caller falls back to
    the generic loop, so this lane can be strict (any anomaly — exact
    length mismatch, big-endian, mixed member codes, Z — bails out
    wholesale)."""
    n = len(vals)
    if rows is None:
        rows = [bytes(v) for v in vals if v is not None]
        present = np.fromiter((v is not None for v in vals),
                              dtype=bool, count=n)
    m = len(rows)
    if m == 0:
        return None
    lens = np.fromiter(map(len, rows), dtype=np.int64, count=m)
    if (lens < 9).any():
        return None
    big = b"".join(rows)
    u8 = np.frombuffer(big, dtype=np.uint8)
    off = np.zeros(m, dtype=np.int64)
    np.cumsum(lens[:-1], out=off[1:])
    if not (u8[off] == 1).all():
        return None
    codes = _u32_at(u8, off + 1)
    code = int(codes[0])
    if code < 1 or code > 5 or not (codes == code).all():
        return None

    row_end = off + lens

    if code == POINT:
        if not (lens == 21).all():
            return None
        idx = (off[:, None] + np.arange(5, 21, dtype=np.int64)).ravel()
        xy = _f8_at(u8, idx)
        empty = np.isnan(xy[:, 0]) & np.isnan(xy[:, 1])
        ne = ~empty
        coords = np.ascontiguousarray(xy[ne], dtype=np.float64)
        rings_per_row = ne.astype(np.int64)
        ring_lens = np.ones(int(ne.sum()), dtype=np.int64)
        outer = np.ones(len(ring_lens), dtype=bool)
        return _assemble(n, present, code, rings_per_row, ring_lens,
                         outer, coords)

    # Coordinate extraction strategy for the ragged kinds: rows are
    # back-to-back in `big`, and within each row the coordinate bytes are
    # everything that is not a (small, known-position) header. Knocking
    # header bytes out of a boolean mask and taking u8[mask] yields ALL
    # coordinates in stream order — which IS row-major ring order — with
    # no index array proportional to the coordinate bytes (the giant
    # int64 gather-index allocations dominated the first cut's profile).

    if code == LINESTRING:
        npts = _u32_at(u8, off + 5)
        if not (lens == 9 + 16 * npts).all():
            return None
        mask = np.ones(len(u8), dtype=bool)
        mask[(off[:, None] + np.arange(9)).ravel()] = False
        coords = np.ascontiguousarray(u8[mask]).view("<f8").reshape(-1, 2)
        ne = npts > 0
        rings_per_row = ne.astype(np.int64)
        ring_lens = npts[ne]
        outer = np.ones(len(ring_lens), dtype=bool)
        return _assemble(n, present, code, rings_per_row, ring_lens,
                         outer, coords)

    if code == MULTIPOINT:
        nm = _u32_at(u8, off + 5)
        if not (lens == 9 + 21 * nm).all():
            return None
        base = np.repeat(off + 9, nm) + 21 * _multi_arange(
            np.zeros(m, dtype=np.int64), nm)
        if len(base) == 0:
            coords = np.empty((0, 2), dtype=np.float64)
            kept_per_row = np.zeros(m, dtype=np.int64)
        else:
            if not ((u8[base] == 1).all()
                    and (_u32_at(u8, base + 1) == POINT).all()):
                return None
            mask = np.ones(len(u8), dtype=bool)
            mask[(off[:, None] + np.arange(9)).ravel()] = False
            mask[(base[:, None] + np.arange(5)).ravel()] = False
            xy = np.ascontiguousarray(u8[mask]).view("<f8").reshape(-1, 2)
            keep = ~(np.isnan(xy[:, 0]) & np.isnan(xy[:, 1]))
            coords = np.ascontiguousarray(xy[keep], dtype=np.float64)
            member_row = np.repeat(np.arange(m), nm)
            kept_per_row = np.bincount(member_row[keep], minlength=m
                                       ).astype(np.int64)
        ne = kept_per_row > 0
        rings_per_row = ne.astype(np.int64)
        ring_lens = kept_per_row[ne]
        outer = np.ones(len(ring_lens), dtype=bool)
        return _assemble(n, present, code, rings_per_row, ring_lens,
                         outer, coords)

    # POLYGON / MULTILINESTRING: variable ring (or member) count per row,
    # each ring's byte length depending on its own vertex count — decode
    # by wavefront: level k reads the k-th ring of every row that has one,
    # advancing a per-row cursor. max(levels) iterations of vectorized
    # body instead of a per-row loop.
    if code == POLYGON:
        nr = _u32_at(u8, off + 5)
        cursor = off + 9
        hdr_bytes = 0                      # rings are bare inside POLYGON
    else:                                  # MULTILINESTRING
        nr = _u32_at(u8, off + 5)
        cursor = off + 9
        hdr_bytes = 5                      # each member is full WKB
    if not len(nr) or int(nr.max()) > 64:
        # absurd ring counts: let the strict per-row path vet it
        return None
    lv_rows: list = []
    lv_npts: list = []
    lv_cstart: list = []
    cursor = cursor.copy()
    maxr = int(nr.max())
    rowids = np.arange(m, dtype=np.int64)
    for k in range(maxr):
        act = nr > k
        if not act.any():
            break
        cur = cursor[act]
        if hdr_bytes:
            if (cur + 9 > row_end[act]).any():
                return None
            if not ((u8[cur] == 1).all()
                    and (_u32_at(u8, cur + 1) == LINESTRING).all()):
                return None
            cur = cur + 5
        if (cur + 4 > row_end[act]).any():
            return None
        p = _u32_at(u8, cur)
        end = cur + 4 + 16 * p
        if (end > row_end[act]).any():
            return None
        lv_rows.append(rowids[act])
        lv_npts.append(p)
        lv_cstart.append(cur + 4)
        cursor[act] = end
    if (cursor != row_end).any():
        return None                        # trailing bytes: strict loop
    if not lv_rows:
        ring_rows = np.empty(0, dtype=np.int64)
        ring_npts = np.empty(0, dtype=np.int64)
        ring_cs = np.empty(0, dtype=np.int64)
    else:
        ring_rows = np.concatenate(lv_rows)
        ring_npts = np.concatenate(lv_npts)
        ring_cs = np.concatenate(lv_cstart)
    # order rings row-major (levels appended level-major); stable sort
    # keeps the within-row level order
    order = np.argsort(ring_rows, kind="stable")
    ring_rows = ring_rows[order]
    ring_npts = ring_npts[order]
    # coords via the header-knockout mask: stream order == row-major
    # ring order, exactly the order the sorted tables describe
    mask = np.ones(len(u8), dtype=bool)
    mask[(off[:, None] + np.arange(9)).ravel()] = False
    if len(ring_cs):
        hdr_w = hdr_bytes + 4              # [member hdr +] vertex count
        mask[((ring_cs - hdr_w)[:, None]
              + np.arange(hdr_w)).ravel()] = False
    coords = np.ascontiguousarray(u8[mask]).view("<f8").reshape(-1, 2)
    # drop empty rings from the tables (they contributed no coords)
    nz = ring_npts > 0
    ring_rows, ring_npts = ring_rows[nz], ring_npts[nz]
    if code == POLYGON and len(ring_npts):
        # closing-duplicate drop per ring (npts > 1 and first == last)
        ro = np.zeros(len(ring_npts) + 1, dtype=np.int64)
        np.cumsum(ring_npts, out=ro[1:])
        first, last = ro[:-1], ro[1:] - 1
        dup = (ring_npts > 1) \
            & (coords[first, 0] == coords[last, 0]) \
            & (coords[first, 1] == coords[last, 1])
        if dup.any():
            keep = np.ones(len(coords), dtype=bool)
            keep[last[dup]] = False
            coords = coords[keep]
            ring_npts = ring_npts - dup.astype(np.int64)
    rings_per_row = np.bincount(ring_rows, minlength=m).astype(np.int64)
    if code == POLYGON:
        # outer = first surviving ring of its row
        outer = np.ones(len(ring_rows), dtype=bool)
        if len(ring_rows) > 1:
            outer[1:] = ring_rows[1:] != ring_rows[:-1]
    else:
        outer = np.ones(len(ring_rows), dtype=bool)
    return _assemble(n, present, code, rings_per_row, ring_lens=ring_npts,
                     outer=outer, coords=coords)


def _assemble(n, present, code, rings_per_row, ring_lens, outer, coords):
    """Build the PackedBatch from per-present-row ring counts."""
    kind = np.zeros(n, dtype=np.int8)
    kind[present] = code
    rp = np.zeros(n, dtype=np.int64)
    rp[present] = rings_per_row
    return assemble(kind, rp, ring_lens, coords, outer)


def assemble(kind, rings_per_geom, ring_len, coords, outer=None,
             fallback=None) -> PackedBatch:
    """A PackedBatch from per-row kinds and ring counts plus per-ring
    lengths over row-major `coords` (outer defaults to all True: no
    holes)."""
    geom_off = np.zeros(len(kind) + 1, dtype=np.int64)
    np.cumsum(rings_per_geom, out=geom_off[1:])
    ring_off = np.zeros(len(ring_len) + 1, dtype=np.int64)
    np.cumsum(ring_len, out=ring_off[1:])
    if outer is None:
        outer = np.ones(len(ring_len), dtype=bool)
    return PackedBatch(len(kind), np.asarray(kind, dtype=np.int8), geom_off,
                       ring_off, np.asarray(outer, dtype=bool),
                       np.asarray(coords, dtype=np.float64).reshape(-1, 2),
                       fallback or {})


def _rd_ring(b: bytes, off: int, u32, closed: bool):
    (npts,) = u32(b, off)
    off += 4
    end = off + 16 * npts
    if end > len(b):
        raise GeomError("truncated WKB coordinates")
    arr = np.frombuffer(b, dtype="<f8", count=2 * npts,
                        offset=off).reshape(npts, 2)
    if closed and npts > 1 and arr[0, 0] == arr[-1, 0] \
            and arr[0, 1] == arr[-1, 1]:
        arr = arr[:-1]
    return arr, end


def _pack_one(b: bytes, code: int, u32, ring_lens, outer, chunks) -> int:
    """Decode one LE 2D WKB value; append its rings; return ring count."""
    if code == POINT:
        x, y = struct.unpack_from("<2d", b, 5)
        if x != x and y != y:           # NaN NaN = EMPTY
            return 0
        chunks.append(np.array([[x, y]], dtype=np.float64))
        ring_lens.append(1)
        outer.append(True)
        return 1
    if code == LINESTRING:
        arr, _ = _rd_ring(b, 5, u32, closed=False)
        if len(arr) == 0:
            return 0
        chunks.append(arr)
        ring_lens.append(len(arr))
        outer.append(True)
        return 1
    if code == POLYGON:
        (nrr,) = u32(b, 5)
        off, nr = 9, 0
        for _ in range(nrr):
            arr, off = _rd_ring(b, off, u32, closed=True)
            if len(arr) == 0:
                continue
            chunks.append(arr)
            ring_lens.append(len(arr))
            outer.append(nr == 0)
            nr += 1
        return nr
    # multi containers: members are full WKB values (header per member)
    (nm,) = u32(b, 5)
    off, nr = 9, 0
    if code == MULTIPOINT:
        pts = []
        for _ in range(nm):
            if b[off] != 1 or u32(b, off + 1)[0] != POINT:
                raise GeomError("mixed MULTIPOINT member")
            x, y = struct.unpack_from("<2d", b, off + 5)
            off += 21
            if not (x != x and y != y):
                pts.append((x, y))
        if not pts:
            return 0
        chunks.append(np.asarray(pts, dtype=np.float64))
        ring_lens.append(len(pts))
        outer.append(True)
        return 1
    if code == MULTILINESTRING:
        for _ in range(nm):
            if b[off] != 1 or u32(b, off + 1)[0] != LINESTRING:
                raise GeomError("mixed MULTILINESTRING member")
            arr, off = _rd_ring(b, off + 5, u32, closed=False)
            if len(arr) == 0:
                continue
            chunks.append(arr)
            ring_lens.append(len(arr))
            outer.append(True)
            nr += 1
        return nr
    # MULTIPOLYGON
    for _ in range(nm):
        if b[off] != 1 or u32(b, off + 1)[0] != POLYGON:
            raise GeomError("mixed MULTIPOLYGON member")
        (nrr,) = u32(b, off + 5)
        off += 9
        first = True
        for _ in range(nrr):
            arr, off = _rd_ring(b, off, u32, closed=True)
            if len(arr) == 0:
                continue
            chunks.append(arr)
            ring_lens.append(len(arr))
            outer.append(first)
            first = False
            nr += 1
    return nr


# ------------------------------------------------------------------ rows

def take(p: PackedBatch, idx) -> PackedBatch:
    """Rows idx of p as a new batch, in idx order; -1 gives a NULL row.
    The one row gather of the packed form: the text edge orders its
    pieces with it and expands a batch of distinct values to the rows
    that repeat them."""
    idx = np.asarray(idx, dtype=np.int64)
    if len(idx) == p.n and (idx == np.arange(p.n)).all():
        return p
    live = idx >= 0
    src = np.where(live, idx, 0)
    kind = np.where(live, p.kind[src] if p.n else 0, 0)
    nr = np.where(live, p.rings_per_geom()[src] if p.n else 0, 0)
    rings = _multi_arange(p.geom_off[src], nr)
    ring_len = p.ring_len()[rings]
    fallback = {i: p.fallback[j] for i, j in zip(
        np.flatnonzero(kind == -1).tolist(), idx[kind == -1].tolist())}
    return assemble(kind, nr, ring_len,
                    p.coords[_multi_arange(p.ring_off[rings], ring_len)],
                    p.outer[rings], fallback)


def as_printed(p: PackedBatch) -> PackedBatch:
    """p with every multi of at most one member retyped as its single
    kind: the kind its WKT names, since GT.to_wkt prints such a multi as
    its member (or as the single kind's EMPTY). A body that reads the
    kind of a chained geometry then sees what its lone call would parse
    from the text between the calls. Rows held as WKB are retyped in
    their bytes."""
    ring_geom = np.repeat(np.arange(p.n), p.rings_per_geom())
    members = np.select(
        [p.kind == MULTIPOINT, p.kind == MULTILINESTRING],
        [np.diff(p.geom_coord_off()), p.rings_per_geom()],
        np.bincount(ring_geom, weights=p.outer, minlength=p.n))
    one = np.isin(p.kind, (MULTIPOINT, MULTILINESTRING, MULTIPOLYGON)) \
        & (members <= 1)
    fallback = dict(p.fallback)
    for i, raw in p.fallback.items():
        kind, data = GT.parse_wkb(raw)
        if kind.startswith("MULTI") and len(data) <= 1:
            fallback[i] = GT.to_wkb((kind[5:], data))
    if not one.any() and fallback == p.fallback:
        return p
    single = p.kind - 3                      # WKB: multi code = single + 3
    return PackedBatch(p.n, np.where(one, single, p.kind).astype(np.int8),
                       p.geom_off, p.ring_off, p.outer, p.coords, fallback)


def row_tgeom(p: PackedBatch, i: int):
    """One row as a kernel/geomtypes tgeom (fallback rows re-parse their
    bytes). None for SQL NULL."""
    k = int(p.kind[i])
    if k == 0:
        return None
    if k == -1:
        return GT.parse_wkb(p.fallback[i])
    ro, go = p.ring_off, p.geom_off
    r0, r1 = go[i], go[i + 1]
    rings = [[tuple(pt) for pt in p.coords[ro[r]:ro[r + 1]].tolist()]
             for r in range(r0, r1)]
    if k == POINT:
        return ("POINT", rings[0] if rings else [])
    if k == MULTIPOINT:
        return ("MULTIPOINT", rings[0] if rings else [])
    if k == LINESTRING:
        return ("LINESTRING", rings)
    if k == MULTILINESTRING:
        return ("MULTILINESTRING", rings)
    polys: list = []
    for r in range(r0, r1):
        if p.outer[r] or not polys:
            polys.append([rings[r - r0]])
        else:
            polys[-1].append(rings[r - r0])
    return ("POLYGON" if k == POLYGON else "MULTIPOLYGON", polys)


# ----------------------------------------------------- vectorized measures

def _seq_sums(vals: np.ndarray, off: np.ndarray) -> np.ndarray:
    """Per-segment sums of vals[off[i]:off[i+1]] in the scalar kernels'
    order: `acc = 0.0; acc += v` left to right, bit for bit.
    np.add.reduceat is not that (it adds pairwise, with 8 partial
    accumulators from 9 elements on). So this folds by column: step j
    adds every segment's j-th value. Equal segment lengths reshape into
    rows and add strided columns; ragged ones sort the segments longest
    first, so step j touches only those still longer than j.

    A column step costs about what one segment's own fold costs, so
    once no more segments are left than steps, each remaining one
    finishes alone: np.cumsum is a sequential left-to-right fold (no
    pairwise blocks). One long ring then costs one cumsum, not one numpy
    step per vertex for the whole batch."""
    lens = off[1:] - off[:-1]
    out = np.zeros(len(lens), dtype=np.float64)
    if not len(lens) or not vals.size:
        return out
    top = int(lens.max())
    if top == 0:
        return out
    if (lens == top).all() and len(lens) > top:
        rows = vals[off[0]:off[-1]].reshape(len(lens), top)
        acc = rows[:, 0] + 0.0          # the fold's 0.0 + v0 (-0.0 -> 0.0)
        for j in range(1, top):
            acc += rows[:, j]
        return acc
    order = np.argsort(-lens, kind="stable")
    start, ls = off[:-1][order], lens[order]
    live = np.searchsorted(-ls, -np.arange(top), side="left")
    alone = np.flatnonzero(live <= top - np.arange(top))
    cut = int(alone[0]) if len(alone) else top
    acc = np.zeros(len(lens), dtype=np.float64)
    for j in range(cut):
        k = live[j]
        acc[:k] += vals[start[:k] + j]
    for i in range(int(live[cut]) if cut < top else 0):
        acc[i] = np.cumsum(np.concatenate(
            ([acc[i]], vals[start[i] + cut:start[i] + ls[i]])))[-1]
    out[order] = acc
    return out


def _next_in_ring(p: PackedBatch) -> np.ndarray:
    """Index of the cyclically-next coordinate within each ring."""
    nxt = np.arange(1, len(p.coords) + 1, dtype=np.int64)
    last = p.ring_off[1:] - 1
    first = p.ring_off[:-1]
    ok = last >= first
    nxt[last[ok]] = first[ok]
    return nxt


def area_np(p: PackedBatch) -> np.ndarray:
    """Per-geometry planar area (holes subtracted), bit-identical to
    kernel/geom.area: per-ring shoelace anchored at the ring's first
    vertex, summed left-to-right."""
    areal = np.isin(p.kind, _AREAL)
    if not areal.any():
        return np.zeros(p.n)
    x, y = p.coords[:, 0], p.coords[:, 1]
    if len(p.coords):
        nxt = _next_in_ring(p)
        ring_first = np.repeat(p.ring_off[:-1], p.ring_len())
        x0, y0 = x[ring_first], y[ring_first]
        term = (x - x0) * (y[nxt] - y0) - (x[nxt] - x0) * (y - y0)
    else:
        term = np.zeros(0, dtype=np.float64)
    ring_area = _seq_sums(term, p.ring_off) / 2.0
    contrib = np.abs(ring_area)
    np.negative(contrib, where=~p.outer, out=contrib)
    out = _seq_sums(contrib, p.geom_off)
    # only areal kinds have area; fallback rows handled by caller
    out[~areal] = 0.0
    return out


def ring_signed_area_np(p: PackedBatch) -> np.ndarray:
    """Per-ring anchored signed shoelace (for orientation tests)."""
    x, y = p.coords[:, 0], p.coords[:, 1]
    if len(p.coords):
        nxt = _next_in_ring(p)
        ring_first = np.repeat(p.ring_off[:-1], p.ring_len())
        x0, y0 = x[ring_first], y[ring_first]
        term = (x - x0) * (y[nxt] - y0) - (x[nxt] - x0) * (y - y0)
    else:
        term = np.zeros(0, dtype=np.float64)
    return _seq_sums(term, p.ring_off) / 2.0


def ring_faults_np(p: PackedBatch):
    """Per ring, the two facts kernel/geom.normalize acts on: whether
    two consecutive vertices are equal (the wrap from last to first
    included), and the anchored signed area (> 0 is CCW; 0 is
    degenerate). Bit-equal to the scalar's, so a row whose rings have no
    repeat and the wanted sign is one normalize() leaves as it is."""
    x, y = p.coords[:, 0], p.coords[:, 1]
    nxt = _next_in_ring(p)
    dup = (x == x[nxt]) & (y == y[nxt])
    ring_of = np.repeat(np.arange(len(p.ring_off) - 1), p.ring_len())
    repeat = np.bincount(ring_of[dup], minlength=len(p.ring_off) - 1) > 0
    with np.errstate(invalid="ignore"):        # inf - inf: NaN area
        return repeat, ring_signed_area_np(p)


def npoints_np(p: PackedBatch) -> np.ndarray:
    """Per-geometry vertex count, matching GT.npoints: areal rings count
    the closing duplicate (+1 per ring); puntal/lineal count as stored."""
    per_geom = np.diff(p.geom_coord_off())
    areal = np.isin(p.kind, _AREAL)
    per_geom[areal] += p.rings_per_geom()[areal]
    per_geom[p.kind <= 0] = 0
    return per_geom


def _hypot(dx: np.ndarray, dy: np.ndarray) -> np.ndarray:
    """math.hypot per element, the scalar kernels' segment length.
    np.hypot (libm) differs from it in the last ulp on about 0.6 % of
    segments."""
    return np.fromiter(map(math.hypot, dx.tolist(), dy.tolist()),
                       np.float64, len(dx))


def length_np(p: PackedBatch) -> np.ndarray:
    """Per-geometry GT.length: math.hypot per segment (areal rings
    closed, lineal paths open), folded left to right over ALL of the
    geometry's segments in one pass, as GT.length's sum does; 0 for
    puntal. An open path's wrap adds 0.0, which leaves the sum as it
    is."""
    x, y = p.coords[:, 0], p.coords[:, 1]
    nxt = _next_in_ring(p)
    with np.errstate(invalid="ignore"):        # inf - inf
        seg = _hypot(x[nxt] - x, y[nxt] - y)
    ring_geom = np.repeat(np.arange(p.n), p.rings_per_geom())
    last = p.ring_off[1:] - 1
    wrap = (p.ring_off[:-1] <= last) & np.isin(p.kind[ring_geom], _LINEAL)
    seg[last[wrap]] = 0.0
    out = _seq_sums(seg, p.geom_coord_off())
    out[~np.isin(p.kind, _AREAL + _LINEAL)] = 0.0
    return out


def transform_np(p: PackedBatch, src: str, dst: str) -> PackedBatch:
    """CRS-transform every coordinate of the batch in one vectorized call
    (kernel/transform.transform_points_np — the scalar path's formulas
    and Newton seeds; numpy's tan/log/exp/arctan differ from libm in the
    last ulp, so coordinates agree to a few ulps, not bit for bit).
    Fallback rows go through the scalar transform on their parsed
    tgeom."""
    if len(p.coords):
        bx, by = T.transform_points_np(p.coords[:, 0].copy(),
                                       p.coords[:, 1].copy(), src, dst)
        coords = np.column_stack([bx, by])
    else:
        coords = p.coords
    fb = {}
    for i, b in p.fallback.items():
        tg = GT.parse_wkb(b)
        fb[i] = GT.to_wkb(_transform_tgeom(tg, src, dst))
    return PackedBatch(p.n, p.kind, p.geom_off, p.ring_off, p.outer,
                       coords, fb)


def _transform_tgeom(tg, src: str, dst: str):
    kind, data = tg
    if kind == "GEOMETRYCOLLECTION":
        return (kind, [_transform_tgeom(m, src, dst) for m in data])
    return GT.map_coords(tg, lambda x, y: T.transform_point(x, y, src, dst))


def bounds_np(p: PackedBatch) -> np.ndarray:
    """(n, 4) [xmin, ymin, xmax, ymax] per geometry; NaN rows for empty /
    null / fallback geometries (caller handles those)."""
    out = np.full((p.n, 4), np.nan)
    co = p.geom_coord_off()
    nonempty = co[:-1] < co[1:]
    if nonempty.any() and len(p.coords):
        x, y = p.coords[:, 0], p.coords[:, 1]
        starts = co[:-1][nonempty]
        out[nonempty, 0] = np.minimum.reduceat(x, starts)
        out[nonempty, 1] = np.minimum.reduceat(y, starts)
        out[nonempty, 2] = np.maximum.reduceat(x, starts)
        out[nonempty, 3] = np.maximum.reduceat(y, starts)
    return out


def rect_bounds_np(p: PackedBatch):
    """(mask, x1, y1, x2, y2): rows that are PROVABLY the canonical CCW
    axis-aligned rectangle walk (x1 y1, x2 y1, x2 y2, x1 y2) with
    positive extent — the binary-carrier twin of the text surface's
    spatial._rect_fixed_mask contract (no integer-text requirement: the
    carrier needs value equality, not text fixed-points)."""
    rpg = p.rings_per_geom()
    cand = (p.kind == POLYGON) & (rpg == 1)
    x1 = np.full(p.n, np.nan)
    y1 = np.full(p.n, np.nan)
    x2 = np.full(p.n, np.nan)
    y2 = np.full(p.n, np.nan)
    if cand.any():
        rings = p.geom_off[:-1][cand]
        cand2 = cand.copy()
        cand2[cand] = p.ring_len()[rings] == 4
        if cand2.any():
            starts = p.ring_off[p.geom_off[:-1][cand2]]
            c = p.coords
            q = np.stack([c[starts], c[starts + 1],
                          c[starts + 2], c[starts + 3]], axis=1)
            ok = ((q[:, 0, 0] == q[:, 3, 0]) & (q[:, 1, 0] == q[:, 2, 0])
                  & (q[:, 0, 1] == q[:, 1, 1]) & (q[:, 2, 1] == q[:, 3, 1])
                  & (q[:, 1, 0] > q[:, 0, 0]) & (q[:, 2, 1] > q[:, 0, 1]))
            idx = np.flatnonzero(cand2)[ok]
            x1[idx] = q[ok, 0, 0]
            y1[idx] = q[ok, 0, 1]
            x2[idx] = q[ok, 1, 0]
            y2[idx] = q[ok, 2, 1]
            mask = np.zeros(p.n, dtype=bool)
            mask[idx] = True
            return mask, x1, y1, x2, y2
    return np.zeros(p.n, dtype=bool), x1, y1, x2, y2


def box_bounds_np(p: PackedBatch):
    """rect_bounds_np extended with degenerate boxes for non-empty POINT
    rows (x1 == x2, y1 == y2). For the kinds this masks, the bounds ARE
    the geometry, so interval arithmetic (axis-gap distance, nested-bounds
    covers, overlap tests) is exact — including point x point and
    point x rect pairs (r9: the binary predicate/distance lanes were
    rect x rect only, sending every point row to the per-row scalar)."""
    mask, x1, y1, x2, y2 = rect_bounds_np(p)
    co = p.geom_coord_off()
    pts = (p.kind == POINT) & (co[:-1] < co[1:])
    if pts.any():
        idx = np.flatnonzero(pts)
        xy = p.coords[co[:-1][pts]]
        x1[idx] = x2[idx] = xy[:, 0]
        y1[idx] = y2[idx] = xy[:, 1]
        mask = mask | pts
    return mask, x1, y1, x2, y2


def centroid_np(p: PackedBatch):
    """Vectorized centroids with the scalar kernels' formulas and
    operation order, so equal bit for bit. Returns (eligible mask, cx,
    cy); every other row takes the scalar path.

    - puntal (GT.centroid): the vertex average;
    - lineal (GT.centroid): the length-weighted segment-midpoint average
      over all of the geometry's segments in one running sum, with
      math.hypot lengths; a zero total length is left to the scalar
      (vertex-average fallback);
    - areal (functions/spatial._centroid_areal_val over
      kernel/geom.normalize): rows where normalize() only reorients
      rings (no repeated vertex, nonzero area). A ring of the wrong
      orientation folds reversed, as normalize's r[::-1] does; per-ring
      sums fold per geometry left to right."""
    cx = np.full(p.n, np.nan)
    cy = np.full(p.n, np.nan)
    elig = np.zeros(p.n, dtype=bool)
    if not len(p.coords):
        return elig, cx, cy
    x, y = p.coords[:, 0], p.coords[:, 1]
    co = p.geom_coord_off()
    cnt = np.diff(co)
    with np.errstate(invalid="ignore", divide="ignore", over="ignore"):
        pts = np.isin(p.kind, _PUNTAL) & (cnt > 0)
        if pts.any():
            cx[pts] = (_seq_sums(x, co) / cnt)[pts]
            cy[pts] = (_seq_sums(y, co) / cnt)[pts]
            elig |= pts
        lin = np.isin(p.kind, _LINEAL)
        if lin.any():
            nxt = _next_in_ring(p)
            ln = _hypot(x[nxt] - x, y[nxt] - y)
            mx = ln * (x + x[nxt]) / 2.0
            my = ln * (y + y[nxt]) / 2.0
            wrap = nxt <= np.arange(len(x))    # ring-last wraps to start
            ln[wrap] = mx[wrap] = my[wrap] = 0.0
            tot, sx, sy = (_seq_sums(v, co) for v in (ln, mx, my))
            good = lin & (tot > 0)
            cx[good] = (sx / tot)[good]
            cy[good] = (sy / tot)[good]
            elig |= good
        areal = np.isin(p.kind, _AREAL) & (p.rings_per_geom() > 0)
        if areal.any():
            ok, sa, sx, sy = _areal_centroid(p, areal)
            good = ok & (sa != 0)
            cx[good] = (sx / sa)[good]
            cy[good] = (sy / sa)[good]
            elig |= good
    return elig, cx, cy


def _areal_centroid(p: PackedBatch, areal: np.ndarray):
    """(rows normalize() changes at most in orientation, signed area,
    sx, sy): the sums _centroid_areal_val takes, per geometry."""
    repeat, sa = ring_faults_np(p)
    ring_geom = np.repeat(np.arange(p.n), p.rings_per_geom())
    bad = repeat | (p.ring_len() < 3) | ~(np.abs(sa) > 0)
    areal = areal & (np.bincount(ring_geom[bad], minlength=p.n) == 0)
    flip = areal[ring_geom] & ((sa > 0) != p.outer)
    x, y = p.coords[:, 0], p.coords[:, 1]
    if flip.any():
        start, ln = p.ring_off[:-1][flip], p.ring_len()[flip]
        at = _multi_arange(start, ln)
        src = np.arange(len(x))
        src[at] = np.repeat(2 * start + ln - 1, ln) - at
        x, y = x[src], y[src]
    nxt = _next_in_ring(p)
    cross = x * y[nxt] - x[nxt] * y
    a2 = _seq_sums(cross, p.ring_off)
    rx = _seq_sums((x + x[nxt]) * cross, p.ring_off)
    ry = _seq_sums((y + y[nxt]) * cross, p.ring_off)
    return (areal, *(_seq_sums(v, p.geom_off)
                     for v in (a2 / 2.0, rx / 6.0, ry / 6.0)))


# ------------------------------------------------- vectorized round buffer

def buffer_round_np(p: PackedBatch, d, quadsegs: int = 8):
    """The functions/spatial._round_offset_ring walk as ragged array math,
    for the single-ring convex CCW polygon case (where the scalar path
    provably skips make_valid — every join of a convex CCW ring is an
    outward arc or a collinear pass-through, never a folding miter).
    Same formulas, same branch thresholds, same point order; arc interior
    points are center + d·(cos θ, sin θ) and the two arc endpoints use the
    exact edge normals, mirroring the scalar walk. Edge lengths are
    math.hypot's (_hypot), as the walk takes them: np.hypot's last ulp
    moved the normals, and so every vertex, of some long float rings.

    Returns (fast: bool (n,), coords: (M, 2), off: (F+1,) int64) where
    `off` delimits the output ring of each fast row (in row order).
    Ineligible rows (multi-ring, non-convex, CW, zero-length edges,
    d <= 0, non-POLYGON kinds, nulls, fallbacks) are simply not fast —
    the caller routes them through the scalar kernel."""
    n = p.n
    d = np.asarray(d, dtype=np.float64)
    rl = p.ring_len()
    rpg = p.rings_per_geom()
    ring_of = p.geom_off[:-1]        # first-ring index per geometry
    cand = (p.kind == POLYGON) & (rpg == 1) & (d > 0)
    if cand.any():
        cand[cand] &= rl[ring_of[cand]] >= 3
    empty = (np.zeros(0, dtype=np.float64).reshape(0, 2),
             np.zeros(1, dtype=np.int64))
    if not cand.any():
        return cand, *empty

    # --- compact candidate workspace -----------------------------------
    rows = np.flatnonzero(cand)          # geometry row ids
    rings = ring_of[rows]                # their ring ids
    L = rl[rings]                        # vertices per ring
    starts = p.ring_off[rings]
    C = len(rows)
    tot = int(L.sum())
    rid = np.repeat(np.arange(C), L)     # candidate id per vertex
    base = np.repeat(starts - np.concatenate(
        ([0], np.cumsum(L)[:-1])), L)
    vidx = np.arange(tot) + base         # coord index per vertex
    voff = np.zeros(C + 1, dtype=np.int64)
    np.cumsum(L, out=voff[1:])
    # cyclic next vertex within each ring
    vnxt = vidx + 1
    vnxt[voff[1:] - 1] = vidx[voff[:-1]]

    pts = p.coords
    ex = pts[vnxt, 0] - pts[vidx, 0]
    ey = pts[vnxt, 1] - pts[vidx, 1]
    ln = _hypot(ex, ey)

    ok = np.ones(C, dtype=bool)
    # all edges nonzero (zero edges would be skipped by the scalar walk)
    zero_edge = ln == 0
    if zero_edge.any():
        ok &= np.add.reduceat(zero_edge, voff[:-1]) == 0
    ln_safe = np.where(ln == 0, 1.0, ln)
    nx = ey / ln_safe
    ny = -ex / ln_safe

    # CCW + convex: every consecutive-edge cross >= 0. Edge arrays are
    # vertex-position-aligned; "next edge" = cyclic roll within the ring.
    nxt_pos = np.arange(1, tot + 1)
    nxt_pos[voff[1:] - 1] = voff[:-1]
    cross = ex * ey[nxt_pos] - ey * ex[nxt_pos]
    neg = cross < 0
    if neg.any():
        ok &= np.add.reduceat(neg, voff[:-1]) == 0
    sa = ring_signed_area_np(p)[rings]
    ok &= sa > 0

    # join sweep between edge i and edge i+1 (the scalar's wrap logic)
    ang = np.arctan2(ny, nx)
    sweep = ang[nxt_pos] - ang
    two_pi = 2 * np.pi
    sweep = np.where(sweep <= -np.pi, sweep + two_pi, sweep)
    sweep = np.where(sweep > np.pi, sweep - two_pi, sweep)
    sweep = np.where(sweep <= -np.pi + 1e-9, sweep + two_pi, sweep)
    miter = sweep < -1e-12
    if miter.any():
        ok &= np.add.reduceat(miter, voff[:-1]) == 0

    if not ok.all():
        # refine: drop disqualified candidates and re-select
        keep_v = ok[rid]
        cand2 = cand.copy()
        cand2[rows[~ok]] = False
        if not cand2.any():
            return cand2, *empty
        rows = rows[ok]
        C = len(rows)
        L = L[ok]
        rid = np.repeat(np.arange(C), L)
        voff = np.zeros(C + 1, dtype=np.int64)
        np.cumsum(L, out=voff[1:])
        vidx, vnxt = vidx[keep_v], vnxt[keep_v]
        nx, ny, ang = nx[keep_v], ny[keep_v], ang[keep_v]
        sweep = sweep[keep_v]
        nxt_pos = np.arange(1, int(L.sum()) + 1)
        nxt_pos[voff[1:] - 1] = voff[:-1]
        cand = cand2

    dd = d[rows][rid]                     # radius per vertex/join
    is_arc = sweep > 1e-12
    q = float(quadsegs)
    k = np.ones(len(sweep), dtype=np.int64)
    if is_arc.any():
        k_arc = np.ceil(sweep[is_arc] / (np.pi / 2) * q - 1e-9)
        k[is_arc] = np.maximum(1, k_arc).astype(np.int64)
    cnt = np.where(is_arc, k + 1, 1)      # points emitted per join

    total = int(cnt.sum())
    join_of = np.repeat(np.arange(len(cnt)), cnt)
    coff = np.zeros(len(cnt) + 1, dtype=np.int64)
    np.cumsum(cnt, out=coff[1:])
    j = np.arange(total) - coff[:-1][join_of]

    cx = pts[vnxt, 0][join_of]            # arc center = shared vertex
    cy = pts[vnxt, 1][join_of]
    dj = dd[join_of]
    kk = k[join_of].astype(np.float64)
    theta = ang[join_of] + sweep[join_of] * j / kk
    ox = cx + dj * np.cos(theta)
    oy = cy + dj * np.sin(theta)
    # exact endpoints from the edge normals (the scalar walk's e_end and
    # n_start), overriding the trig form at j == 0 and j == k
    first = j == 0
    ox[first] = cx[first] + dj[first] * nx[join_of[first]]
    oy[first] = cy[first] + dj[first] * ny[join_of[first]]
    lastm = (j == k[join_of]) & is_arc[join_of]
    nn = nxt_pos[join_of[lastm]]
    ox[lastm] = cx[lastm] + dj[lastm] * nx[nn]
    oy[lastm] = cy[lastm] + dj[lastm] * ny[nn]

    out = np.column_stack([ox, oy])
    # ring length per fast row = points of all its joins
    per_row = np.zeros(C, dtype=np.int64)
    np.add.reduceat(cnt, voff[:-1], out=per_row[:len(per_row)])
    off = np.zeros(C + 1, dtype=np.int64)
    np.cumsum(per_row, out=off[1:])
    return cand, out, off
