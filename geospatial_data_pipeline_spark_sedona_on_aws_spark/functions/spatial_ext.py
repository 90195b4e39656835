"""r9 Sedona/PostGIS name-parity batch: constructors-from-text, ring
orientation, structure flags, clearance/inscribed-circle metrics, 3D
distance, axis rotations, hex EWKB, Visvalingam-Whyatt simplification.

Every name here exists in Apache Sedona 1.7 (the version the reference
pins in docker/Dockerfile) or core PostGIS; the reference itself only
calls the ~10 names in spark_job/process_geodata.py:102-139, but a
reference USER has the whole Sedona registry available — this batch
continues closing that surface (SURVEY.md §2.9 name parity).

The kernels and lanes here are registered through functions/table.ROWS
over the WKT text carrier (the same contract as functions/spatial.py);
the struct-valued ST_MaximumInscribedCircle stays a hand-written UDF.
Deviations from upstream, each deliberate and documented on the helper:

- typed FromText constructors return NULL on a type mismatch (Sedona's
  behavior) rather than raising (PostGIS);
- ST_MaximumInscribedCircle returns the (center, nearest, radius)
  struct like PostGIS; the solver is the deterministic polylabel
  quadtree (Mapbox 2016), exact for rectangles (the centroid cell's
  bound is already optimal);
- ST_3DDistance covers puntal/lineal operands (Z-aware segment math);
  areal operands raise NotImplementedError deterministically, like the
  codec gates in multimodal/.
"""

from __future__ import annotations

import functools
import heapq
import math

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..kernel import geom as G
from ..kernel import geomtypes as GT
from . import lanes as LN

# ----------------------------------------------------------- constructors

def _polygon_from_envelope(x1, y1, x2, y2) -> str | None:
    """Sedona ST_PolygonFromEnvelope(minX, minY, maxX, maxY)."""
    if any(pd.isna(v) for v in (x1, y1, x2, y2)):
        return None
    x1, y1, x2, y2 = float(x1), float(y1), float(x2), float(y2)
    return GT.to_wkt(("POLYGON",
                      [[[(x1, y1), (x2, y1), (x2, y2), (x1, y2)]]]))

def _point_from_text(coords: str | None, delim: str) -> str | None:
    """Sedona ST_PointFromText('x,y', ','): delimited coordinate pair
    (NOT WKT — that is ST_GeomFromText)."""
    if coords is None:
        return None
    parts = coords.split(delim)
    if len(parts) != 2:
        return None
    return GT.to_wkt(("POINT", [(float(parts[0]), float(parts[1]))]))

def _linestring_from_text(coords: str | None, delim: str) -> str | None:
    """Sedona ST_LineStringFromText('x1,y1,x2,y2,...', ',')."""
    if coords is None:
        return None
    vals = [float(v) for v in coords.split(delim)]
    if len(vals) < 4 or len(vals) % 2:
        return None
    path = list(zip(vals[0::2], vals[1::2]))
    return GT.to_wkt(("LINESTRING", [path]))

def _typed_from_text(wkt: str | None, want: str) -> str | None:
    """ST_LineFromText / ST_MLineFromText / ST_MPolyFromText /
    ST_MPointFromText / ST_GeomCollFromText: parse WKT, NULL unless the
    base type matches (Sedona returns null; PostGIS raises — we follow
    Sedona, the engine's name-parity target)."""
    if wkt is None:
        return None
    tg = GT.parse_wkt(wkt)
    if GT.basekind(tg[0]) != want:
        return None
    return GT.to_wkt(tg)

def _line_from_multipoint(wkt: str | None) -> str | None:
    """PostGIS/Sedona ST_LineFromMultiPoint: vertices in order; NULL for
    non-MULTIPOINT input or fewer than 2 points."""
    if wkt is None:
        return None
    tg = GT.strip_z(GT.parse_wkt(wkt))
    if tg[0] != "MULTIPOINT" or len(tg[1]) < 2:
        return None
    return GT.to_wkt(("LINESTRING", [list(tg[1])]))

# ------------------------------------------------------- ring orientation

@functools.lru_cache(maxsize=65536)
def _force_orientation(wkt: str | None, exterior_ccw: bool) -> str | None:
    """ST_ForcePolygonCW / ST_ForcePolygonCCW / ST_ForceRHR: orient every
    exterior ring CW (RHR) or CCW, holes opposite; non-areal input is
    returned unchanged (PostGIS behavior). Z is preserved (ring reversal
    keeps each vertex triple intact).

    lru_cached (the MIC precedent): pure text->text, and ST_ForceRHR is
    a distinct UDF computing the same (wkt, False) entry ST_ForcePolygonCW
    just filled for the same Arrow batch — the cache collapses the alias
    to a lookup."""
    if wkt is None:
        return None
    tg = GT.parse_wkt(wkt)

    def fix(t):
        kind, data = t
        if kind == "GEOMETRYCOLLECTION":
            return (kind, [fix(m) for m in data])
        if GT.basekind(kind) not in ("POLYGON", "MULTIPOLYGON"):
            return t
        out = []
        for poly in data:
            rings = []
            for i, ring in enumerate(poly):
                sa = G._ring_signed_area([(p[0], p[1]) for p in ring])
                want_ccw = exterior_ccw if i == 0 else not exterior_ccw
                rings.append(list(ring)[::-1] if (sa > 0) != want_ccw
                             else list(ring))
            out.append(rings)
        return (kind, out)

    return GT.to_wkt(fix(tg))

def _is_polygon_oriented(wkt: str | None, exterior_ccw: bool) -> bool | None:
    """ST_IsPolygonCW / ST_IsPolygonCCW: true iff every exterior ring has
    the asked orientation and every hole the opposite; non-polygonal
    input returns true (PostGIS: trivially satisfied)."""
    if wkt is None:
        return None
    tg = GT.strip_z(GT.parse_wkt(wkt))

    def ok(t) -> bool:
        kind, data = t
        if kind == "GEOMETRYCOLLECTION":
            return all(ok(m) for m in data)
        if GT.basekind(kind) not in ("POLYGON", "MULTIPOLYGON"):
            return True
        for poly in data:
            for i, ring in enumerate(poly):
                sa = G._ring_signed_area(list(ring))
                want_ccw = exterior_ccw if i == 0 else not exterior_ccw
                if sa == 0 or (sa > 0) != want_ccw:
                    return False
        return True

    return ok(tg)

# -------------------------------------------------------- structure flags

def _is_collection(wkt: str | None) -> bool | None:
    """PostGIS ST_IsCollection: true for MULTI* and GEOMETRYCOLLECTION
    (regardless of member count)."""
    if wkt is None:
        return None
    kind, _ = GT.parse_wkt(wkt)
    return GT.basekind(kind) in ("MULTIPOINT", "MULTILINESTRING",
                                 "MULTIPOLYGON", "GEOMETRYCOLLECTION")

def _zmflag(wkt: str | None) -> int | None:
    """PostGIS ST_Zmflag: 0=2D, 1=M, 2=Z, 3=ZM. The engine's parser
    rejects M/ZM at parse time (kernel/geomtypes.py), so a parseable
    geometry is only ever 0 or 2."""
    if wkt is None:
        return None
    return 2 if GT.has_z(GT.parse_wkt(wkt)) else 0

def _force_collection(wkt: str | None) -> str | None:
    """PostGIS ST_ForceCollection: wrap a single geometry in a
    GEOMETRYCOLLECTION; a MULTI* becomes a collection of its members;
    a collection is returned unchanged."""
    if wkt is None:
        return None
    tg = GT.parse_wkt(wkt)
    kind, data = tg
    base = GT.basekind(kind)
    z = kind.endswith(" Z")
    single = base[5:] if base.startswith("MULTI") else None
    if base == "GEOMETRYCOLLECTION":
        members = data
    elif single == "POINT":
        members = [(("POINT Z" if z else "POINT"), [p]) for p in data]
    elif single == "LINESTRING":
        members = [(("LINESTRING Z" if z else "LINESTRING"), [path])
                   for path in data]
    elif single == "POLYGON":
        members = [(("POLYGON Z" if z else "POLYGON"), [poly])
                   for poly in data]
    else:
        members = [tg]
    return GT.to_wkt(("GEOMETRYCOLLECTION", members))

def _is_valid_reason(wkt: str | None) -> str | None:
    """PostGIS/Sedona ST_IsValidReason: 'Valid Geometry' or a short
    diagnosis. Reasons mirror the engine's own ST_IsValid rules
    (functions/spatial._is_valid): degenerate rings and ring
    self-intersection are the two failure classes the carried areal
    model admits."""
    if wkt is None:
        return None
    kind, data = GT.strip_z(GT.parse_wkt(wkt))
    if kind == "GEOMETRYCOLLECTION":
        for m in data:
            r = _is_valid_reason(GT.to_wkt(m))
            if r != "Valid Geometry":
                return r
        return "Valid Geometry"
    if kind not in ("POLYGON", "MULTIPOLYGON"):
        return "Valid Geometry"
    raw = [[G._dedupe(r) for r in poly] for poly in data]
    if any(len(r) < 3 for poly in raw for r in poly):
        return "Too few points in geometry component"
    if G._has_self_intersections(raw):
        return "Self-intersection"
    return "Valid Geometry"

# --------------------------------------------------- clearance / inscribed

def _minimum_clearance_pair(tg):
    """(clearance, (px, py), (qx, qy)) — the JTS MinimumClearance: the
    smallest of (a) any vertex-to-vertex distance between distinct
    vertices and (b) any vertex-to-segment distance where the vertex is
    not an endpoint of the segment. None when no such distance exists
    (single point)."""
    pts = GT.points_of(tg)
    segs = GT.segments_of(tg)
    best = None
    for i, (px, py) in enumerate(pts):
        for j, (qx, qy) in enumerate(pts):
            if j <= i or (px, py) == (qx, qy):
                continue
            d = math.hypot(px - qx, py - qy)
            if best is None or d < best[0]:
                best = (d, (px, py), (qx, qy))
        for (x1, y1, x2, y2) in segs:
            if (px, py) in ((x1, y1), (x2, y2)):
                continue
            d2 = GT._seg_pt_dist2(px, py, x1, y1, x2, y2)
            d = math.sqrt(d2)
            if best is None or d < best[0]:
                # nearest point on the segment for the clearance line
                vx, vy = x2 - x1, y2 - y1
                L2 = vx * vx + vy * vy
                t = 0.0 if L2 == 0 else max(
                    0.0, min(1.0, ((px - x1) * vx + (py - y1) * vy) / L2))
                best = (d, (px, py), (x1 + t * vx, y1 + t * vy))
    return best

@functools.lru_cache(maxsize=65536)
def _minimum_clearance_pair_wkt(wkt: str):
    """Text-keyed memo over _minimum_clearance_pair (the MIC precedent):
    ST_MinimumClearance and ST_MinimumClearanceLine are distinct UDFs
    fed the same geometry column, so within one Arrow batch the O(V^2)
    pair scan runs once and the sibling reads the cache. Pure function
    of the WKT text; the returned tuple is never mutated."""
    return _minimum_clearance_pair(GT.strip_z(GT.parse_wkt(wkt)))

def _minimum_clearance(wkt: str | None) -> float | None:
    if wkt is None:
        return None
    best = _minimum_clearance_pair_wkt(wkt)
    return None if best is None else best[0]

def _minimum_clearance_line(wkt: str | None) -> str | None:
    """ST_MinimumClearanceLine: the 2-point LINESTRING realizing the
    minimum clearance; NULL when undefined."""
    if wkt is None:
        return None
    best = _minimum_clearance_pair_wkt(wkt)
    if best is None:
        return None
    return GT.to_wkt(("LINESTRING", [[best[1], best[2]]]))

def _dist_to_boundary(x: float, y: float, polys) -> float:
    """Signed distance to the polygon boundary: positive inside."""
    d2 = min(GT._seg_pt_dist2(x, y, x1, y1, x2, y2)
             for poly in polys
             for ring in poly
             for (x1, y1, x2, y2) in _ring_segs(ring))
    inside = any(GT.point_in_polygon(x, y, [poly]) for poly in polys)
    d = math.sqrt(d2)
    return d if inside else -d

def _ring_segs(ring):
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        yield (x1, y1, x2, y2)

def _is_axis_rect(polys) -> bool:
    """One hole-free polygon whose single ring is an axis-aligned
    rectangle (4 distinct corners = bbox corners)."""
    if len(polys) != 1 or len(polys[0]) != 1:
        return False
    ring = polys[0][0]
    if len(ring) != 4:
        return False
    xs, ys = {p[0] for p in ring}, {p[1] for p in ring}
    if len(xs) != 2 or len(ys) != 2:
        return False
    return set(ring) == {(x, y) for x in xs for y in ys}

@functools.lru_cache(maxsize=65536)
def _maximum_inscribed_circle(wkt: str | None):
    """PostGIS ST_MaximumInscribedCircle via the polylabel quadtree
    (Mapbox 2016): deterministic max-heap refinement (ties broken on
    cell coordinates), precision = max bbox dimension / 1000. For a
    rectangle the first candidate (the bbox center) already attains the
    theoretical bound, so the ANSWER is exact there — but the quadtree
    still refines the whole medial-axis band down to precision
    (O(extent/precision) cells), which is real work per call. The
    lru_cache is the load-bearing mitigation: geometry columns that
    reach this function are overwhelmingly dimension-joined or
    fixture-derived (low distinct count per batch — the same
    observation behind the r9 factorize-on-uniques parse lane), so
    repeated shapes pay once. Pure function of the WKT text →
    memoization is semantics-free. Returns
    (center WKT, nearest boundary point WKT, radius)."""
    if wkt is None:
        return None
    tg = GT.strip_z(GT.parse_wkt(wkt))
    if GT.basekind(tg[0]) not in ("POLYGON", "MULTIPOLYGON"):
        return None
    # areal tgeom data is a list of polygons for BOTH kinds
    polys = [p for p in tg[1] if p]
    if not polys:
        return None
    minx, miny, maxx, maxy = GT.bounds(tg)
    size = max(maxx - minx, maxy - miny)
    if size == 0:
        return None
    cx0, cy0 = minx + (maxx - minx) / 2.0, miny + (maxy - miny) / 2.0
    if _is_axis_rect(polys):
        # exact lane: for an axis-aligned rectangle the quadtree provably
        # returns the bbox center (the seed cell's bound is optimal and
        # the strict d > best_d tie-break never moves off it), so skip
        # the medial-band refinement — O(extent/precision) heap cells
        # per call, the measured hot spot of st_clearance_ops — and
        # emit the identical answer directly.
        best_c = (cx0, cy0)
        best_d = min(maxx - minx, maxy - miny) / 2.0
    else:
        precision = size / 1000.0
        SQRT2 = math.sqrt(2.0)

        def cell(cx, cy, h):
            d = _dist_to_boundary(cx, cy, polys)
            # (-potential, cx, cy) heap key: deterministic pop order
            return (-(d + h * SQRT2), cx, cy, h, d)

        h0 = size / 2.0
        heap = []
        best = cell(cx0, cy0, 0.0)
        best_d, best_c = best[4], (cx0, cy0)
        heapq.heappush(heap, cell(cx0, cy0, h0))
        while heap:
            neg_pot, cx, cy, h, d = heapq.heappop(heap)
            if -neg_pot - best_d <= precision:
                break
            if d > best_d:
                best_d, best_c = d, (cx, cy)
            if h <= precision / 2:
                continue
            nh = h / 2.0
            for dx in (-nh, nh):
                for dy in (-nh, nh):
                    heapq.heappush(heap, cell(cx + dx, cy + dy, nh))
    # nearest boundary point from the winning center
    bx, by, bd2 = None, None, None
    for poly in polys:
        for ring in poly:
            for (x1, y1, x2, y2) in _ring_segs(ring):
                vx, vy = x2 - x1, y2 - y1
                L2 = vx * vx + vy * vy
                t = 0.0 if L2 == 0 else max(0.0, min(
                    1.0, ((best_c[0] - x1) * vx + (best_c[1] - y1) * vy) / L2))
                qx, qy = x1 + t * vx, y1 + t * vy
                d2 = (best_c[0] - qx) ** 2 + (best_c[1] - qy) ** 2
                if bd2 is None or d2 < bd2:
                    bx, by, bd2 = qx, qy, d2
    return (GT.to_wkt(("POINT", [best_c])),
            GT.to_wkt(("POINT", [(bx, by)])),
            best_d)

# ------------------------------------------------------------- 3D metrics

def _pts3(tg):
    """[(x, y, z)] and [(p1, p2) segments] of a puntal/lineal tgeom,
    z = 0 when absent."""
    kind, data = tg
    base = GT.basekind(kind)
    z = kind.endswith(" Z")

    def p3(p):
        return (p[0], p[1], p[2] if z else 0.0)

    if base in ("POINT", "MULTIPOINT"):
        pts = [p3(p) for p in data]
        return pts, [(p, p) for p in pts]
    if base in ("LINESTRING", "MULTILINESTRING"):
        segs = []
        pts = []
        for path in data:
            path3 = [p3(p) for p in path]
            pts.extend(path3)
            segs.extend(zip(path3, path3[1:]))
        return pts, segs
    raise NotImplementedError(
        "ST_3DDistance supports puntal/lineal operands; areal 3D "
        "distance needs a surface model the WKT carrier does not hold")

def _seg_seg_dist3(p1, p2, q1, q2) -> float:
    """Min distance between 3D segments (standard clamped closest-point
    parametrization, Ericson RTCD §5.1.9)."""
    d1 = [p2[i] - p1[i] for i in range(3)]
    d2 = [q2[i] - q1[i] for i in range(3)]
    r = [p1[i] - q1[i] for i in range(3)]
    a = sum(v * v for v in d1)
    e = sum(v * v for v in d2)
    f = sum(d2[i] * r[i] for i in range(3))
    if a == 0 and e == 0:
        return math.sqrt(sum(v * v for v in r))
    if a == 0:
        t = max(0.0, min(1.0, f / e))
        c = [q1[i] + t * d2[i] for i in range(3)]
        return math.sqrt(sum((p1[i] - c[i]) ** 2 for i in range(3)))
    c_ = sum(d1[i] * r[i] for i in range(3))
    if e == 0:
        s = max(0.0, min(1.0, -c_ / a))
        c = [p1[i] + s * d1[i] for i in range(3)]
        return math.sqrt(sum((c[i] - q1[i]) ** 2 for i in range(3)))
    b = sum(d1[i] * d2[i] for i in range(3))
    den = a * e - b * b
    s = max(0.0, min(1.0, (b * f - c_ * e) / den)) if den != 0 else 0.0
    t = (b * s + f) / e
    if t < 0:
        t, s = 0.0, max(0.0, min(1.0, -c_ / a))
    elif t > 1:
        t, s = 1.0, max(0.0, min(1.0, (b - c_) / a))
    cp = [p1[i] + s * d1[i] for i in range(3)]
    cq = [q1[i] + t * d2[i] for i in range(3)]
    return math.sqrt(sum((cp[i] - cq[i]) ** 2 for i in range(3)))

def _distance3d(a: str | None, b: str | None) -> float | None:
    """Sedona/PostGIS ST_3DDistance over puntal/lineal operands."""
    if a is None or b is None:
        return None
    _, sa = _pts3(GT.parse_wkt(a))
    _, sb = _pts3(GT.parse_wkt(b))
    return min(_seg_seg_dist3(p1, p2, q1, q2)
               for (p1, p2) in sa for (q1, q2) in sb)

def _map_xyz(tg, fn):
    """Apply fn(x, y, z) -> (x', y', z') to every vertex; 2D input enters
    with z = 0 and the result carries Z (rotation about a horizontal
    axis genuinely produces elevation — PostGIS keeps the Z)."""
    kind, data = tg
    if kind == "GEOMETRYCOLLECTION":
        return (kind, [_map_xyz(m, fn) for m in data])
    base = GT.basekind(kind)
    z = kind.endswith(" Z")

    def m(p):
        return fn(p[0], p[1], p[2] if z else 0.0)

    zkind = base + " Z"
    if base in ("POINT", "MULTIPOINT"):
        return (zkind, [m(p) for p in data])
    if base in ("LINESTRING", "MULTILINESTRING"):
        return (zkind, [[m(p) for p in path] for path in data])
    return (zkind, [[[m(p) for p in ring] for ring in poly]
                    for poly in data])

def _rotate_x(wkt: str | None, theta) -> str | None:
    """PostGIS ST_RotateX: rotate about the X axis —
    (x, y·cosθ − z·sinθ, y·sinθ + z·cosθ)."""
    if wkt is None or pd.isna(theta):
        return None
    c, s = math.cos(float(theta)), math.sin(float(theta))
    return GT.to_wkt(_map_xyz(
        GT.parse_wkt(wkt),
        lambda x, y, z: (x, y * c - z * s, y * s + z * c)))

def _rotate_y(wkt: str | None, theta) -> str | None:
    """PostGIS ST_RotateY: (x·cosθ + z·sinθ, y, −x·sinθ + z·cosθ)."""
    if wkt is None or pd.isna(theta):
        return None
    c, s = math.cos(float(theta)), math.sin(float(theta))
    return GT.to_wkt(_map_xyz(
        GT.parse_wkt(wkt),
        lambda x, y, z: (x * c + z * s, y, -x * s + z * c)))

def _as_hexewkb(wkt: str | None) -> str | None:
    """Sedona 1.7 ST_AsHEXEWKB (default NDR/little-endian): the engine's
    carrier holds no SRID, so the EWKB of an SRID-less geometry is its
    plain WKB — uppercase hex, PostGIS's output casing."""
    if wkt is None:
        return None
    return GT.to_wkb(GT.parse_wkt(wkt)).hex().upper()

# --------------------------------------------- Visvalingam-Whyatt simplify

def _tri_area2(a, b, c) -> float:
    """Twice the triangle area (absolute)."""
    return abs((b[0] - a[0]) * (c[1] - a[1]) - (c[0] - a[0]) * (b[1] - a[1]))

def _vw_path(path: list, tol: float, closed: bool) -> list:
    """Visvalingam-Whyatt: repeatedly remove the vertex with the
    smallest effective area while it stays below tol; endpoints of an
    open path are pinned; closed rings keep >= 3 vertices."""
    pts = list(path)
    floor_n = 3 if closed else 2
    while len(pts) > floor_n:
        best_i, best_a = None, None
        n = len(pts)
        rng = range(n) if closed else range(1, n - 1)
        for i in rng:
            a = _tri_area2(pts[(i - 1) % n], pts[i], pts[(i + 1) % n]) / 2.0
            if best_a is None or a < best_a:
                best_i, best_a = i, a
        if best_a is None or best_a >= tol:
            break
        pts.pop(best_i)
    if closed and len(pts) == 3 and \
            _tri_area2(pts[0], pts[1], pts[2]) / 2.0 < tol:
        return []  # the whole ring is below the area threshold: collapse
    return pts

def _simplify_vw(wkt: str | None, tol) -> str | None:
    """Sedona 1.6.1+ ST_SimplifyVW (Visvalingam-Whyatt, tolerance = the
    effective-area threshold). Lineal paths pin their endpoints; rings
    simplify closed (any vertex removable) and collapse below 3 vertices
    drops the ring (holes) or degenerates the polygon like ST_Simplify.
    Puntal input is returned unchanged."""
    if wkt is None or pd.isna(tol):
        return None
    t = float(tol)
    tg = GT.strip_z(GT.parse_wkt(wkt))
    kind, data = tg
    base = GT.basekind(kind)
    if base in ("POINT", "MULTIPOINT"):
        return GT.to_wkt(tg)
    if base in ("LINESTRING", "MULTILINESTRING"):
        return GT.to_wkt((kind, [_vw_path(p, t, closed=False)
                                 for p in data]))
    if base in ("POLYGON", "MULTIPOLYGON"):
        polys = []
        for poly in data:
            rings = []
            for i, ring in enumerate(poly):
                r = _vw_path(ring, t, closed=True)
                if len(r) >= 3:
                    rings.append(r)
                elif i == 0:
                    rings = None
                    break
            if rings:
                polys.append(rings)
        if not polys:
            return "POLYGON EMPTY"
        return GT.to_wkt((kind, polys))
    # GEOMETRYCOLLECTION: member-wise
    return GT.to_wkt((kind, [GT.parse_wkt(_simplify_vw(GT.to_wkt(m), t))
                             for m in data]))

# -------------------------------------- ST_MaximumInscribedCircle (struct)

_MIC_SCHEMA = StructType([
    StructField("center", StringType()),
    StructField("nearest", StringType()),
    StructField("radius", DoubleType()),
])


def _mic_rows(sub: pd.Series) -> pd.DataFrame:
    rows = [(_maximum_inscribed_circle(w) or (None, None, None))
            if w is not None else (None, None, None) for w in sub]
    return pd.DataFrame(rows, columns=["center", "nearest", "radius"],
                        index=sub.index)


@pandas_udf(_MIC_SCHEMA)
def st_maximuminscribedcircle(s: pd.Series) -> pd.DataFrame:
    out = LN.maximum_inscribed_circle(s, _mic_rows)
    out["radius"] = pd.to_numeric(out["radius"], errors="coerce")
    return out


def _srid(wkt: str | None) -> int | None:
    """PostGIS ST_SRID over the text carriage: the 'SRID=n;' EWKT prefix
    when present, else 0 (PostGIS's 'unknown'). The geometry part is
    validated by a parse either way."""
    if wkt is None:
        return None
    t = wkt.lstrip()
    n = 0
    if t[:5].upper() == "SRID=":
        semi = t.find(";")
        if semi == -1:
            raise G.GeomError("EWKT with SRID= but no ';'")
        try:
            n = int(t[5:semi])
        except ValueError:
            raise G.GeomError(f"bad SRID {t[5:semi]!r}") from None
        t = t[semi + 1:]
    GT.parse_wkt(t)
    return n


def _set_srid(wkt: str | None, srid) -> str | None:
    """PostGIS ST_SetSRID: stamp (or clear, srid <= 0) the SRID carriage
    on the text value without touching coordinates. The geometry part is
    re-emitted canonically (parse -> to_wkt), so downstream text
    equality checks behave like every other constructor here."""
    if wkt is None or srid is None:
        return None
    canon = GT.to_wkt(GT.parse_wkt(wkt))  # also strips any old prefix
    srid = int(srid)
    return canon if srid <= 0 else f"SRID={srid};{canon}"


# ------------------------------------------------------------ KML / GML
#
# Sedona 1.7 / PostGIS serialization names: ST_AsKML (no namespace
# prefix), ST_AsGML (GML2 'gml:' form — PostGIS's default version 2),
# ST_GeomFromGML (accepts GML2 <coordinates> AND GML3 <pos>/<posList>),
# ST_GeomFromKML. Emission uses kernel _fmt, so integer coordinates
# round-trip as integer text; Z triples are carried when present (both
# formats allow x,y,z coordinate tuples).

def _xml_coords(pts) -> str:
    """KML/GML2 <coordinates> payload: comma-joined tuples, space-joined
    points."""
    return " ".join(",".join(G._fmt(c) for c in p) for p in pts)


def _xml_geom(tg, pre: str) -> str:
    """Serialize a tgeom as KML (pre='') or GML2 (pre='gml:')."""
    kind, data = tg
    base = GT.basekind(kind)
    if kind == "GEOMETRYCOLLECTION":
        member = f"<{pre}geometryMember>" if pre else ""
        member_c = f"</{pre}geometryMember>" if pre else ""
        return (f"<{pre}MultiGeometry>"
                + "".join(member + _xml_geom(m, pre) + member_c
                          for m in data)
                + f"</{pre}MultiGeometry>")
    if base == "POINT":
        return (f"<{pre}Point><{pre}coordinates>{_xml_coords(data)}"
                f"</{pre}coordinates></{pre}Point>")
    if base == "LINESTRING":
        return (f"<{pre}LineString><{pre}coordinates>"
                f"{_xml_coords(data[0])}"
                f"</{pre}coordinates></{pre}LineString>")
    if base == "POLYGON":
        out = [f"<{pre}Polygon>"]
        for poly in data:
            for i, ring in enumerate(poly):
                tag = "outerBoundaryIs" if i == 0 else "innerBoundaryIs"
                closed = list(ring) + [ring[0]]
                out.append(
                    f"<{pre}{tag}><{pre}LinearRing><{pre}coordinates>"
                    f"{_xml_coords(closed)}"
                    f"</{pre}coordinates></{pre}LinearRing></{pre}{tag}>")
        out.append(f"</{pre}Polygon>")
        return "".join(out)
    if base == "MULTIPOINT":
        return (f"<{pre}MultiPoint>" + "".join(
            f"<{pre}pointMember>" + _xml_geom((kind.replace(
                "MULTIPOINT", "POINT"), [p]), pre) + f"</{pre}pointMember>"
            for p in data) + f"</{pre}MultiPoint>")
    if base == "MULTILINESTRING":
        return (f"<{pre}MultiLineString>" + "".join(
            f"<{pre}lineStringMember>" + _xml_geom((kind.replace(
                "MULTILINESTRING", "LINESTRING"), [path]), pre)
            + f"</{pre}lineStringMember>"
            for path in data) + f"</{pre}MultiLineString>")
    if base == "MULTIPOLYGON":
        return (f"<{pre}MultiPolygon>" + "".join(
            f"<{pre}polygonMember>" + _xml_geom((kind.replace(
                "MULTIPOLYGON", "POLYGON"), [poly]), pre)
            + f"</{pre}polygonMember>"
            for poly in data) + f"</{pre}MultiPolygon>")
    raise G.GeomError(f"unsupported geometry for XML: {kind}")


def _as_kml(wkt: str | None) -> str | None:
    if wkt is None:
        return None
    return _xml_geom(GT.parse_wkt(wkt), "")


def _as_gml(wkt: str | None) -> str | None:
    if wkt is None:
        return None
    return _xml_geom(GT.parse_wkt(wkt), "gml:")


def _xml_parse_coords(el) -> list[tuple]:
    """Coordinate payload of a KML/GML element: <coordinates> (comma
    tuples, space-separated) or GML3 <pos>/<posList> (flat
    space-separated doubles, 2-D pairs)."""
    for child in el:
        tag = child.tag.rsplit("}", 1)[-1]
        if tag == "coordinates" and child.text:
            pts = []
            for tok in child.text.split():
                parts = tok.split(",")
                if len(parts) < 2:
                    raise G.GeomError(f"bad coordinate {tok!r}")
                pts.append(tuple(float(v) for v in parts[:3]))
            if len({len(p) for p in pts}) > 1:
                # mixed 2-D/3-D tuples would surface as an IndexError
                # deep in the WKT serializer — reject at the parse edge
                raise G.GeomError("mixed 2D/3D coordinates")
            return pts
        if tag in ("pos", "posList") and child.text:
            vals = [float(v) for v in child.text.split()]
            if len(vals) % 2:
                raise G.GeomError("odd posList length")
            return list(zip(vals[0::2], vals[1::2]))
    raise G.GeomError(f"no coordinates in <{el.tag}>")


def _xml_ring(el) -> list[tuple]:
    pts = _xml_parse_coords(el)
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    if len(pts) < 3:
        raise G.GeomError("ring with <3 distinct points")
    return pts


def _xml_to_tgeom(el):
    tag = el.tag.rsplit("}", 1)[-1]
    if tag == "Point":
        pts = _xml_parse_coords(el)
        z = " Z" if len(pts[0]) == 3 else ""
        return ("POINT" + z, pts[:1])
    if tag == "LineString":
        pts = _xml_parse_coords(el)
        z = " Z" if len(pts[0]) == 3 else ""
        return ("LINESTRING" + z, [pts])
    if tag == "Polygon":
        outer, inners = None, []
        for child in el:
            ctag = child.tag.rsplit("}", 1)[-1]
            if ctag in ("outerBoundaryIs", "exterior"):
                outer = _xml_ring(next(iter(child)))
            elif ctag in ("innerBoundaryIs", "interior"):
                inners.append(_xml_ring(next(iter(child))))
        if outer is None:
            raise G.GeomError("Polygon with no outer ring")
        rings = [outer] + inners
        if len(outer[0]) == 3:
            return ("POLYGON Z", [rings])
        return ("POLYGON", [[[(p[0], p[1]) for p in r] for r in rings]])
    members = {
        "MultiPoint": ("MULTIPOINT", "POINT"),
        "MultiLineString": ("MULTILINESTRING", "LINESTRING"),
        "MultiPolygon": ("MULTIPOLYGON", "POLYGON"),
        "MultiGeometry": ("GEOMETRYCOLLECTION", None),
    }
    if tag in members:
        kind, want = members[tag]
        parts = []
        for child in el:
            ctag = child.tag.rsplit("}", 1)[-1]
            node = child
            if ctag.endswith("Member") or ctag.endswith("member") \
                    or ctag.endswith("Members"):
                node = next(iter(child))
            parts.append(_xml_to_tgeom(node))
        if kind == "GEOMETRYCOLLECTION":
            return (kind, parts)
        if want and any(GT.basekind(p[0]) != want for p in parts):
            raise G.GeomError(f"mixed members in <{tag}>")
        # multi members flatten to 2-D (the engine's multis are 2-D;
        # Z round-trips through Point/LineString/Polygon directly)
        strip = [GT.strip_z(p) for p in parts]
        return (kind, [p[1][0] for p in strip])
    raise G.GeomError(f"unsupported XML geometry <{tag}>")


def _geom_from_xml(text: str | None) -> str | None:
    """Shared ST_GeomFromGML / ST_GeomFromKML body: strip 'gml:'
    prefixes textually (GML snippets habitually arrive without the
    namespace declaration, which ElementTree rejects), parse with the
    stdlib ElementTree, and re-emit canonical WKT."""
    if text is None:
        return None
    import xml.etree.ElementTree as ET

    try:
        el = ET.fromstring(text.replace("gml:", ""))
    except ET.ParseError as exc:
        raise G.GeomError(f"malformed XML geometry: {exc}") from None
    return GT.to_wkt(_xml_to_tgeom(el))


# ------------------------------------------------- noding / polygonize

def _node(wkt: str | None) -> str | None:
    """PostGIS ST_Node: fully node the input's edges (kernel/noding.py).
    Output is the canonical segment form — each noded edge its own
    2-point MULTILINESTRING member, sorted — where GEOS merges chains
    between degree-2 nodes; the arrangement (vertex/edge set) is
    identical, the grouping canonicalized (documented deviation)."""
    if wkt is None:
        return None
    from ..kernel import noding as ND

    segs = [((x1, y1), (x2, y2))
            for x1, y1, x2, y2 in GT.segments_of(GT.strip_z(GT.parse_wkt(wkt)))]
    pieces = ND.node_segments(segs)
    if not pieces:
        return "MULTILINESTRING EMPTY"
    return GT.to_wkt(("MULTILINESTRING", [[a, b] for a, b in pieces]))


def _polygonize(wkt: str | None) -> str | None:
    """PostGIS/Sedona ST_Polygonize (scalar form over one collection):
    the bounded faces of the input's noded arrangement as a
    GEOMETRYCOLLECTION of polygons — holes assigned to the innermost
    enclosing face, dangles and cut edges dropped, exactly the GEOS
    Polygonizer contract. Canonical order: polygons by smallest shell
    vertex, shells CCW, holes CW."""
    if wkt is None:
        return None
    from ..kernel import noding as ND

    segs = [((x1, y1), (x2, y2))
            for x1, y1, x2, y2 in GT.segments_of(GT.strip_z(GT.parse_wkt(wkt)))]
    polys = ND.polygonize(segs)
    if not polys:
        return "GEOMETRYCOLLECTION EMPTY"
    return GT.to_wkt(("GEOMETRYCOLLECTION",
                      [("POLYGON", [p]) for p in polys]))


# ---------------------------------------------------- misc scalar batch

def _collect_array(wkts) -> str | None:
    """Sedona/PostGIS ST_Collect (array form): NULL members skipped;
    homogeneous singular members collect into the matching MULTI*,
    anything else (mixed kinds, multi/collection members) nests into a
    GEOMETRYCOLLECTION without flattening — PostGIS semantics. One
    deviation, the kernel's areal canon: a single-polygon collect
    prints as POLYGON (kernel/geom.to_wkt canonicalizes one-member
    multipolygons engine-wide)."""
    if wkts is None:
        return None
    members = [GT.parse_wkt(w) for w in wkts if w is not None]
    if not members:
        return None
    kinds = {m[0] for m in members}
    # homogeneous singular members (2D or Z, never mixed-dimension)
    # collect into the matching MULTI* of the same dimensionality —
    # PostGIS returns MULTIPOINT Z for all-'POINT Z' input (r10, closes
    # the r9 ADVICE deviation where Z members fell to GEOMETRYCOLLECTION)
    for single in ("POINT", "LINESTRING", "POLYGON",
                   "POINT Z", "LINESTRING Z", "POLYGON Z"):
        if kinds == {single}:
            return GT.to_wkt((single, [m[1][0] for m in members]))
    return GT.to_wkt(("GEOMETRYCOLLECTION", members))


def _ordering_equals(a: str | None, b: str | None) -> bool | None:
    """PostGIS ST_OrderingEquals: same type AND the same coordinate
    sequence (ring rotation / vertex order matter, unlike ST_Equals)."""
    if a is None or b is None:
        return None
    return GT.parse_wkt(a) == GT.parse_wkt(b)


def _points(wkt: str | None) -> str | None:
    """PostGIS ST_Points: MULTIPOINT of every vertex in storage order,
    duplicates preserved (ring closing vertices included)."""
    if wkt is None:
        return None
    from .spatial import _dump_points

    pts = _dump_points(wkt)
    if not pts:
        return None
    return GT.to_wkt(("MULTIPOINT",
                      [GT.parse_wkt(p)[1][0] for p in pts]))


def _mem_size(wkt: str | None) -> int | None:
    """PostGIS ST_MemSize name parity. Deviation, documented: PostGIS
    reports its internal varlena size; the engine's carrier is text, so
    the meaningful deterministic size is the WKB serialization length
    in bytes (= ST_MemSize for PostGIS's on-disk WKB layout minus the
    varlena header)."""
    if wkt is None:
        return None
    return len(GT.to_wkb(GT.parse_wkt(wkt)))


# ------------------------------------------------------------ BuildArea

def _build_area(wkt: str | None) -> str | None:
    """PostGIS ST_BuildArea: form the areal geometry enclosed by the
    input's linework. Composition of two existing kernels:

    1. kernel/noding.polygonize extracts the faces (dangles/cut edges
       pruned, cross-component holes assigned to the innermost face);
    2. even-odd depth filtering — a face whose shell lies inside an odd
       number of OTHER faces' shells is unfilled (the middle ring of a
       triple-nest) — keeps only the filled faces;
    3. the kept faces union (the areal union used by ST_Union), which
       dissolves interior edges shared by adjacent faces (a square cut
       by a diagonal comes back as ONE square, not two triangles).

    Depth counts only cross-component containment (same-component faces
    tile disjoint interiors — they cannot nest), so the shell's first
    vertex never lies on the candidate container's boundary and the
    ray cast is exact. Returns NULL when no face encloses area
    (PostGIS returns NULL for area-less input)."""
    if wkt is None:
        return None
    from ..kernel import noding as ND
    from .spatial import _unary_union

    segs = [((x1, y1), (x2, y2))
            for x1, y1, x2, y2 in GT.segments_of(GT.strip_z(GT.parse_wkt(wkt)))]
    polys = ND.polygonize(segs)
    if not polys:
        return None
    comp_of = {}
    for ci, comp in enumerate(
            ND._components(ND._prune_cut_edges(
                ND._prune_dangles(ND.node_segments(segs))))):
        for a, b in comp:
            comp_of[a] = ci
    shells = [(p[0], comp_of[p[0][0]]) for p in polys]
    by_comp: dict[int, list] = {}
    for i, (poly, (shell, ci)) in enumerate(zip(polys, shells)):
        depth = sum(
            1 for j, (other, cj) in enumerate(shells)
            if j != i and cj != ci
            and ND._point_in_ring(shell[0][0], shell[0][1], other))
        if depth % 2 == 0:
            by_comp.setdefault(ci, []).append(poly)
    if not by_comp:
        return None
    # interior-edge dissolve (the areal union) is needed only WITHIN a
    # component — a square cut by a diagonal must come back as one
    # square; faces kept from different components are disjoint by the
    # even-odd filter, so unioning across them would only re-tile a
    # holed polygon into the union kernel's banded canonical form
    out_polys = []
    for ci in sorted(by_comp):
        group = by_comp[ci]
        if len(group) == 1:
            out_polys.append(group[0])
            continue
        merged = _unary_union(GT.to_wkt(
            ("GEOMETRYCOLLECTION",
             [("POLYGON", [p]) for p in group])))
        out_polys.extend(G.parse_wkt(merged))
    return G.to_wkt(sorted(out_polys, key=lambda p: p[0][0]))
