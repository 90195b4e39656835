"""ST_* spatial function surface: the per-row scalar kernels, the lanes
that front them, and registration.

The reference invokes Sedona's SQL functions through F.expr("ST_...") strings
(reference spark_job/process_geodata.py:102-139); after
``register_spatial_functions(spark)`` the *same call sites work verbatim* here,
resolved to the engine's Arrow pandas UDFs instead of Sedona's JVM
implementations (SURVEY.md §2.9). Each UDF is built from one row per SQL
name in functions/table.py (names, result type, the kernel here, an
optional lane, an optional packed body); only the grouped aggregates and
the struct-valued ST_SimplifyLine are hand-written below.

Geometry columns are **canonical WKT strings** (StringType): self-describing,
hashable, and directly usable as grouping keys — which the reference needs,
since it groups by a geometry column (spark_job/process_geodata.py:110-112).

Scale note: every UDF here is Arrow-batched (one Python round-trip per ~10k
rows, spark.sql.execution.arrow.maxRecordsPerBatch), never row-at-a-time.
Chains of ST_ calls in one projection run inside a single Python worker stage;
the hot pipeline path additionally uses the fused dissolve-clip-area operator
(operators/dissolve.py) so the per-group work crosses the boundary once.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import boolean as B
from ..kernel import geom as G
from ..kernel import geomtypes as GT
from . import lanes as LN

# ------------------------------------------------------------ scalar impls

def _is_areal(s: str) -> bool:
    """Plain 2D POLYGON / MULTIPOLYGON WKT → the original polygon-kernel
    paths (bit-identical to pre-r6 behavior); every other type — puntal,
    lineal, Z-tagged areal, GEOMETRYCOLLECTION — routes through the typed
    kernel (kernel/geomtypes.py; r5 item 1, r7 GC+Z). O(1): examines a
    bounded prefix only — the r6 form lstrip().upper()'ed the WHOLE WKT
    per value, which showed up as +24–27% on transform/buffer-heavy
    queries (r6 verdict item 2)."""
    i = 0
    n = len(s)
    while i < n and s[i].isspace():
        i += 1
    t = s[i:i + 15].upper()
    if t.startswith("MULTIPOLYGON"):
        rest = t[12:].lstrip()
    elif t.startswith("POLYGON"):
        rest = t[7:].lstrip()
    else:
        return False
    if rest[:1] in ("Z", "M"):
        return False
    # untagged Z ('POLYGON((0 0 5, ...))'): 3 numbers in the first
    # coordinate group routes to the typed kernel too. A 2D group is two
    # whitespace-separated tokens; split() on the tiny prefix slice (first
    # coordinate group only, bounded by the first comma) counts tokens
    # for any separator — single/multiple spaces, tabs, newlines alike
    # (the r7 single-' '-count misclassified 'POLYGON((0  0, ...))' and
    # tab/newline-formatted WKT; r7 advice item 1).
    j = s.find(",", i)
    if j == -1:
        j = n
    k = s.rfind("(", i, j) + 1
    return len(s[k:j].split()) == 2

def _geom_from_wkt(s: str | None) -> str | None:
    """Typed parse; 2D areal geometry (an SRID= prefix included) is
    normalized, as the carrier's ST_GeomFromWKT body does."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if kind in ("POLYGON", "MULTIPOLYGON"):
        return G.to_wkt(G.normalize(data))
    return GT.to_wkt((kind, data))

def _make_valid(s: str | None) -> str | None:
    if s is None:
        return None
    if not _is_areal(s):
        # puntal/lineal geometry is always valid (JTS MakeValid returns
        # it unchanged); canonicalize the serialization only
        return GT.to_wkt(GT.parse_wkt(s))
    return G.to_wkt(G.make_valid(G.parse_wkt(s)))

def _buffer(s: str | None, d: float) -> str | None:
    """d == 0 → topology rinse (the reference's ST_Buffer(g, 0) at
    spark_job/process_geodata.py:125); d != 0 → miter-join edge offset,
    exact for convex polygons (the reference's 1e-7 sliver weld at :102
    only needs 'grow slightly')."""
    if s is None or d is None or d != d:
        return None   # a NULL distance (None, or NaN from a DOUBLE column)
    d = float(d)  # SQL numeric literals may arrive as decimal.Decimal
    if not _is_areal(s):
        # planar ops take the strip_z projection (kernel/geomtypes.py
        # convention — Sedona/JTS buffers Z geometry ignoring z), and a
        # stripped POLYGON/MULTIPOLYGON (i.e. POLYGON Z input) routes back
        # to the areal offset path below (r7 advice item 2)
        kind, data = GT.strip_z(GT.parse_wkt(s))
        if kind == "GEOMETRYCOLLECTION":
            # JTS buffers a collection as the union of member buffers
            parts = [_buffer(GT.to_wkt(m), d) for m in data]
            return _union_wkt_list(parts)
        if kind in ("POLYGON", "MULTIPOLYGON"):
            return _buffer(G.to_wkt(data), d)
        if d == 0:
            # buffer(0) of puntal/lineal input: JTS returns POLYGON EMPTY
            # (a zero-width buffer has no interior)
            return "POLYGON EMPTY"
        if kind in ("POINT", "MULTIPOINT") and d > 0:
            # disc per point: 32-gon circle (8 segments per quarter turn,
            # the same quadsegs default as _buffer_round's arcs), union'd
            # so overlapping discs of a MULTIPOINT merge correctly
            discs = [[[_disc_ring(px, py, d, 8)]] for (px, py) in data]
            if not discs:
                return "POLYGON EMPTY"
            return G.to_wkt(B.union_geom(discs) if len(discs) > 1
                            else discs[0])
        if kind in ("LINESTRING", "MULTILINESTRING") and d > 0:
            # lineal buffers are round-join capsules regardless of the
            # areal join style — Sedona/JTS has no miter end cap either
            return _buffer_lineal(data, d, 8)
        raise G.GeomError(
            "ST_Buffer with nonzero distance supports areal, puntal and "
            "lineal geometry; negative distances apply to areal only")
    g = G.normalize(G.parse_wkt(s))
    if d == 0:
        return G.to_wkt(g)
    out = []
    for poly in g:
        rings = []
        for ring in poly:
            # same +d for every ring: normalize() winds holes CW, which
            # already flips the outward normal, so a positive offset grows
            # the outer ring AND shrinks holes (double-negating d here made
            # holes grow — caught by the hole-buffer probe)
            rings.append(_offset_ring(ring, d))
        rings = [r for r in rings if len(r) >= 3]
        if rings:
            out.append(rings)
    # growing a convex hole-free ring by a positive miter offset keeps it
    # convex (each offset edge is a translated support line), so the
    # O(n²) self-intersection scan in make_valid is provably a no-op —
    # skip it (r7: the transform/buffer-heavy queries spend >60% of the
    # scalar budget in that scan otherwise). Reflex vertices or negative
    # offsets can fold the ring; those still go through make_valid.
    if d > 0 and all(len(p) == 1 and G._is_convex(p[0]) for p in g):
        return G.to_wkt(out)
    # miter joins at reflex vertices can fold the offset ring onto itself;
    # make_valid re-nodes any such self-intersection (banded sweep)
    return G.to_wkt(G.make_valid(out))

def _union_wkt_list(parts: list[str | None]) -> str:
    """Union of areal WKT results (POLYGON EMPTY members dropped) — the
    combiner for GEOMETRYCOLLECTION buffers, where each member buffers
    independently and the results dissolve (the JTS convention)."""
    geoms = []
    for p in parts:
        if p is None or p.endswith("EMPTY"):
            continue
        geoms.append(G.parse_wkt(p))
    if not geoms:
        return "POLYGON EMPTY"
    if len(geoms) == 1:
        return G.to_wkt(geoms[0])
    return G.to_wkt(B.union_geom(geoms))


def _offset_ring(ring: list, d: float) -> list:
    # outward edge offset + miter intersection of adjacent offset edges;
    # ring is CCW (normalize() guarantees), so outward normal of edge
    # (dx, dy) is (dy, -dx)
    import math
    n = len(ring)
    lines = []
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        ln = math.hypot(dx, dy)
        if ln == 0:
            continue
        nx, ny = dy / ln, -dx / ln
        lines.append((x1 + nx * d, y1 + ny * d, x2 + nx * d, y2 + ny * d))
    out = []
    m = len(lines)
    for i in range(m):
        a = lines[i - 1]
        b = lines[i]
        p = _line_intersect(a, b)
        out.append(p if p else (b[0], b[1]))
    return out

def _line_intersect(a, b):
    ax1, ay1, ax2, ay2 = a
    bx1, by1, bx2, by2 = b
    d1x, d1y = ax2 - ax1, ay2 - ay1
    d2x, d2y = bx2 - bx1, by2 - by1
    den = d1x * d2y - d1y * d2x
    if den == 0:
        return None
    t = ((bx1 - ax1) * d2y - (by1 - ay1) * d2x) / den
    return (ax1 + t * d1x, ay1 + t * d1y)

def _disc_ring(px: float, py: float, d: float,
               quadsegs: int) -> list[tuple[float, float]]:
    """CCW 4·quadsegs-gon inscribed in the radius-d circle at (px, py) —
    the point-buffer disc (Sedona/PostGIS ST_Buffer(point) convention:
    quadsegs segments per quarter turn, first vertex at angle 0)."""
    import math
    n = 4 * quadsegs
    return [(px + d * math.cos(2 * math.pi * i / n),
             py + d * math.sin(2 * math.pi * i / n)) for i in range(n)]

def _round_offset_ring(ring, d: float, quadsegs: int, min_edges: int = 3,
                       unsafe=None):
    """Offset a closed ring outward by +d with round joins: each edge is
    translated along its right-hand normal; outward turns get a circular
    arc around the shared vertex (quadsegs segments per quarter turn),
    inward turns the miter intersection. This is the per-ring walk of
    ST_BufferRound, shared with the lineal capsule path (which feeds a
    doubled open path, hence min_edges=2 there). Returns the offset point
    list, or None when fewer than min_edges nonzero edges survive.

    `unsafe`, when a 1-element list, is set True whenever a miter join
    cannot be the exact equidistant boundary: turn sharper than 90°, the
    miter's foot d·tan(|turn|/2) overhanging an adjacent edge, or
    antiparallel offset lines. The capsule path uses it to divert to the
    exact per-segment stadium union — for the POLYGON path the miter IS
    the pinned semantics (oracles fix its vertex counts), so it ignores
    the flag."""
    import math
    n = len(ring)
    edges = []
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        ln = math.hypot(dx, dy)
        if ln == 0:
            continue
        # (dy,-dx)/ln: outward for CCW outers, hole-shrinking for
        # CW holes (same sign logic as the miter _offset_ring)
        edges.append(((x1, y1), (x2, y2), (dy / ln, -dx / ln)))
    m = len(edges)
    if m < min_edges:
        return None
    # per-vertex join between edge i and edge i+1: a list of points
    # replacing {end-of-i, start-of-i+1} offset endpoints
    joins: list[list[tuple[float, float]]] = []
    for i in range(m):
        (a1, a2, (nx, ny)) = edges[i]
        (b1, b2, (mx, my)) = edges[(i + 1) % m]
        e_end = (a2[0] + nx * d, a2[1] + ny * d)
        n_start = (b1[0] + mx * d, b1[1] + my * d)
        ang0, ang1 = math.atan2(ny, nx), math.atan2(my, mx)
        sweep = ang1 - ang0
        while sweep <= -math.pi:
            sweep += 2 * math.pi
        while sweep > math.pi:
            sweep -= 2 * math.pi
        if sweep <= -math.pi + 1e-9:
            # a reversal (doubled-path end cap, or a spike vertex in a
            # ring) is a ±pi turn; atan2 rounding can land it at
            # -pi + ULP, which would take the miter branch and hand
            # _line_intersect two antiparallel lines — snap to the +pi
            # outward cap arc (the JTS round-cap semantics either way)
            sweep += 2 * math.pi
        if sweep > 1e-12:
            # outward turn → arc around the shared vertex a2 == b1
            k = max(1, math.ceil(sweep / (math.pi / 2) * quadsegs
                                 - 1e-9))
            arc = [e_end]
            for j in range(1, k):
                a = ang0 + sweep * j / k
                arc.append((a2[0] + d * math.cos(a),
                            a2[1] + d * math.sin(a)))
            arc.append(n_start)
            joins.append(arc)
        elif sweep < -1e-12:
            # inward turn → single miter intersection point
            p = _line_intersect(
                (a1[0] + nx * d, a1[1] + ny * d, *e_end),
                (*n_start, b2[0] + mx * d, b2[1] + my * d))
            joins.append([p] if p is not None else [e_end, n_start])
            if unsafe is not None and not unsafe[0]:
                if p is None or sweep < -(math.pi / 2 + 1e-9):
                    unsafe[0] = True
                else:
                    foot = d * math.tan(-sweep / 2)
                    la = math.hypot(a2[0] - a1[0], a2[1] - a1[1])
                    lb = math.hypot(b2[0] - b1[0], b2[1] - b1[1])
                    if foot > la or foot > lb:
                        unsafe[0] = True
        else:
            joins.append([e_end])  # collinear continuation
    pts: list[tuple[float, float]] = []
    for i in range(m):
        # edge i's interior span is implicit: its start point is
        # the last point of join i-1, its end the first of join i
        pts.extend(joins[i])
    return pts if len(pts) >= 3 else None

def _buffer_lineal(paths, d: float, quadsegs: int) -> str:
    """Round buffer of lineal geometry (Sedona/PostGIS line buffers).

    Open path → capsule: the path doubled back on itself (p0..pk,
    p(k-1)..p1) is a degenerate closed ring whose round offset IS the
    capsule boundary — end vertices are pi-sweep reversals, so the join
    walk emits the half-disc caps; interior vertices get an arc on the
    convex side and a miter on the other, exactly the JTS round-join
    shape. Closed path (first == last) → annulus: outer ring is the round
    offset of the CCW loop, the hole the round offset of the REVERSED
    loop (reversal flips normals inward and turn signs, so reflex corners
    of the loop get their inner arcs).

    When d exceeds the local feature size the direct offset ring folds
    onto itself; even-odd re-noding would carve double-covered lobes into
    holes, which is NOT buffer semantics. Folded paths instead fall back
    to the exact decomposition: Minkowski sums distribute over unions, so
    buffer(path) == union of per-segment stadiums — each stadium is a
    convex fold-free polygon, and the trapezoid union (nonzero coverage)
    dissolves them. The same union dissolves overlapping capsules of a
    MULTILINESTRING."""
    clean = []      # polygons whose direct offset ring is fold-free
    pieces = []     # convex fallback stadiums awaiting union
    for path in paths:
        pts = [path[0]]
        for p in path[1:]:
            if p != pts[-1]:
                pts.append(p)
        if len(pts) == 1:
            clean.append([_disc_ring(pts[0][0], pts[0][1], d, quadsegs)])
            continue
        if len(pts) == 3 and pts[0] == pts[-1]:
            # 'there and back' degenerate loop — buffer it as the open
            # segment (the doubled walk would trace the stadium twice
            # and even-odd re-noding would cancel it to nothing)
            pts = pts[:-1]
        closed = len(pts) > 3 and pts[0] == pts[-1]
        poly = None
        flag = [False]
        if closed:
            loop = pts[:-1]
            if G._ring_signed_area(loop) < 0:
                loop = loop[::-1]
            outer = _round_offset_ring(loop, d, quadsegs, unsafe=flag)
            inner = _round_offset_ring(loop[::-1], d, quadsegs, unsafe=flag)
            if outer is not None:
                poly = [outer]
                # the inner offset vanishes when d reaches the loop's
                # inradius — then the buffer is simply filled (no hole)
                if inner is not None and G._ring_signed_area(inner) != 0:
                    poly.append(inner)
        else:
            ring = _round_offset_ring(pts + pts[-2:0:-1], d, quadsegs,
                                      min_edges=2, unsafe=flag)
            if ring is not None:
                poly = [ring]
        if poly is None:
            continue
        if not flag[0] and (
                (len(poly) == 1 and G._is_convex(poly[0]))
                or not G._has_self_intersections([poly])):
            clean.append(poly)
            continue
        # fold detected → exact per-segment stadium decomposition
        segs = list(zip(pts, pts[1:]))
        for a, b in segs:
            st = _round_offset_ring([a, b], d, quadsegs, min_edges=2)
            if st is not None:
                pieces.append([st])
    if not clean and not pieces:
        return "POLYGON EMPTY"
    if pieces or len(clean) > 1:
        return G.to_wkt(B.union_geom([[p] for p in clean]
                                     + [[p] for p in pieces]))
    return G.to_wkt(clean[0:1])

def _buffer_round(s: str | None, d: float, quadsegs: int = 8) -> str | None:
    """True round-join positive buffer: offset every edge outward by d and
    join adjacent offset edges with a circular arc approximated by
    `quadsegs` segments per quarter turn (the Sedona/PostGIS ST_Buffer
    convention). Outward turns get arcs; inward (reflex-for-the-solid)
    turns get the miter intersection, with make_valid re-noding any fold.
    For a convex polygon the result is exact N-gon-arc geometry with the
    closed-form area  A + P·d + Σ_corners (d²/2)·k·sin(turn/k) — which is
    what the st_buffer_round oracle recomputes in SQL. d ≤ 0 falls back to
    the miter path (_buffer), matching the reference's only uses of
    non-round buffering (0 and tiny ε welds)."""
    import math
    if s is None:
        return None
    d = float(d)
    if d <= 0:
        return _buffer(s, d)
    if not _is_areal(s):
        # same strip_z / re-dispatch convention as _buffer (advice item 2)
        kind, data = GT.strip_z(GT.parse_wkt(s))
        if kind == "GEOMETRYCOLLECTION":
            parts = [_buffer_round(GT.to_wkt(m), d, quadsegs)
                     for m in data]
            return _union_wkt_list(parts)
        if kind in ("POLYGON", "MULTIPOLYGON"):
            return _buffer_round(G.to_wkt(data), d, quadsegs)
        if kind in ("POINT", "MULTIPOINT"):
            discs = [[[_disc_ring(px, py, d, quadsegs)]]
                     for (px, py) in data]
            if not discs:
                return "POLYGON EMPTY"
            return G.to_wkt(B.union_geom(discs) if len(discs) > 1
                            else discs[0])
        if kind in ("LINESTRING", "MULTILINESTRING"):
            return _buffer_lineal(data, d, quadsegs)
        raise G.GeomError(f"ST_BufferRound does not support {kind}")
    g = G.normalize(G.parse_wkt(s))
    out = []
    for poly in g:
        rings = []
        for ring in poly:
            pts = _round_offset_ring(ring, d, quadsegs)
            if pts is not None:
                rings.append(pts)
        if rings:
            out.append(rings)
    # the Minkowski sum of a convex hole-free polygon with a disc is
    # convex, so the arc-joined offset ring cannot self-intersect and
    # make_valid's O(n²) crossing scan is provably a no-op — skip it
    # (r7 claw-back: that scan was 61% of _buffer_round's profile; the
    # ring is already CCW and duplicate-free, so the emitted WKT is
    # bit-identical to the make_valid path)
    if all(len(p) == 1 and G._is_convex(p[0]) for p in g):
        return G.to_wkt(out)
    return G.to_wkt(G.make_valid(out))

def _convex_hull(s: str | None) -> str | None:
    if s is None:
        return None
    if not _is_areal(s):
        # JTS degenerate-hull shapes: 0 pts -> empty, 1 -> POINT,
        # 2 collinear extremes -> LINESTRING, else the hull POLYGON
        h = G.convex_hull(GT.points_of(GT.parse_wkt(s)))
        if not h:
            return "POLYGON EMPTY"
        if len(h) == 1:
            return GT.to_wkt(("POINT", h))
        if len(h) == 2:
            return GT.to_wkt(("LINESTRING", [h]))
        return G.to_wkt([[h]])
    return G.to_wkt(G.hull_of_geom(G.parse_wkt(s)))

def _npoints(s: str | None) -> int | None:
    """Vertex count over all rings, INCLUDING each ring's closing
    duplicate — the Sedona/PostGIS/JTS ST_NPoints convention (rectangle
    -> 5). The internal ring representation is open, so +1 per ring.
    Puntal/lineal input counts vertices as written (no closing edge)."""
    if s is None:
        return None
    if not _is_areal(s):
        return GT.npoints(GT.parse_wkt(s))
    return sum(len(r) + 1 for poly in G.parse_wkt(s) for r in poly)

def _length(s: str | None) -> float | None:
    """JTS Geometry.getLength (Sedona ST_Length): path length for lineal
    input, perimeter for areal input (PostGIS would return 0 there —
    engine follows the Sedona/JTS convention), 0 for puntal input."""
    if s is None:
        return None
    return GT.length(GT.parse_wkt(s))

def _st_xy(s: str | None, axis: int) -> float | None:
    """Sedona ST_X/ST_Y/ST_Z: the coordinate for POINT / POINT Z input,
    NULL for any other type (Sedona returns null for non-points rather
    than raising) and NULL for ST_Z of a 2D point."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if GT.basekind(kind) != "POINT" or not data:
        return None
    p = data[0]
    if axis >= len(p):
        return None
    return p[axis]


def _force_2d(s: str | None) -> str | None:
    """ST_Force2D: drop z, type otherwise preserved (2D input returns
    canonically serialized)."""
    if s is None:
        return None
    if _is_areal(s):
        return G.to_wkt(G.parse_wkt(s))
    return GT.to_wkt(GT.strip_z(GT.parse_wkt(s)))


def _ndims(s: str | None) -> int | None:
    """PostGIS/Sedona ST_NDims: 3 for Z geometry, else 2."""
    if s is None:
        return None
    if _is_areal(s):
        return 2
    return 3 if GT.has_z(GT.parse_wkt(s)) else 2


def _z_minmax(s: str | None, want_max: bool) -> float | None:
    """ST_ZMin / ST_ZMax: extreme z over all vertices, NULL for 2D."""
    if s is None or _is_areal(s):
        return None
    zs = GT.z_values(GT.parse_wkt(s))
    if not zs:
        return None
    return max(zs) if want_max else min(zs)

def _intersection(a: str | None, b: str | None) -> str | None:
    if a is None or b is None:
        return None
    if not (_is_areal(a) and _is_areal(b)):
        # typed pairs: puntal membership, lineal×areal clip (Cyrus–Beck
        # convex fast path or the r6 general even-odd clip —
        # kernel/geomtypes.intersection_typed); empty puntal/lineal
        # results serialize as their EMPTY literal
        return GT.to_wkt(GT.intersection_typed(GT.parse_wkt(a),
                                               GT.parse_wkt(b)))
    ga, gb = G.parse_wkt(a), G.parse_wkt(b)
    if not ga or not gb:
        return "POLYGON EMPTY"
    # convex fast path (Sutherland–Hodgman keeps the minimal vertex count);
    # otherwise the general banded-sweep boolean core (kernel/boolean.py)
    for subject, clip in ((ga, gb), (gb, ga)):
        if len(clip) == 1 and len(clip[0]) == 1 and G._is_convex(clip[0][0]):
            return G.to_wkt(G.clip_convex(subject, clip[0][0]))
    return G.to_wkt(B.intersection_geom(ga, gb))

def _union2(a: str | None, b: str | None) -> str | None:
    if a is None or b is None:
        return None
    return G.to_wkt(B.union_geom([G.parse_wkt(a), G.parse_wkt(b)]))

def _difference(a: str | None, b: str | None) -> str | None:
    if a is None or b is None:
        return None
    return G.to_wkt(B.difference_geom(G.parse_wkt(a), G.parse_wkt(b)))

def _sym_difference(a: str | None, b: str | None) -> str | None:
    """ST_SymDifference for areal pairs: (a − b) ∪ (b − a) through the
    boolean kernel — the union re-nodes the two disjoint-interior parts
    into canonical form."""
    if a is None or b is None:
        return None
    ga, gb = G.parse_wkt(a), G.parse_wkt(b)
    return G.to_wkt(B.union_geom([B.difference_geom(ga, gb),
                                  B.difference_geom(gb, ga)]))

def _contains(a: str | None, b: str | None) -> bool | None:
    """Area-based containment: a contains b iff area(a ∩ b) == area(b)
    (boundary-touching counts as contained — matches SQL/MM 'covers' more
    closely than strict 'contains'; documented engine choice)."""
    if a is None or b is None:
        return None
    if not (_is_areal(a) and _is_areal(b)):
        # any puntal/lineal operand → the typed kernel's covers test
        # (point-in-polygon ray cast, on-path tests; same boundary
        # convention as the area-based test below)
        return GT.contains(GT.parse_wkt(a), GT.parse_wkt(b))
    ga, gb = G.parse_wkt(a), G.parse_wkt(b)
    ab = G.area(gb)
    if ab == 0:
        return False
    return abs(B.intersection_area(ga, gb) - ab) <= 1e-9 * max(ab, 1.0)

def _seg_pt_dist2(px, py, x1, y1, x2, y2) -> float:
    dx, dy = x2 - x1, y2 - y1
    ln2 = dx * dx + dy * dy
    t = 0.0 if ln2 == 0 else max(0.0, min(1.0, ((px - x1) * dx + (py - y1) * dy) / ln2))
    cx, cy = x1 + t * dx, y1 + t * dy
    return (px - cx) ** 2 + (py - cy) ** 2

# ------------------------------------------------- DE-9IM relate predicates
#
# Sedona exposes the full JTS predicate family; the engine derives each one
# from two primitives it already trusts: the generic typed distance
# (intersects ⟺ distance == 0) and an interiors-intersect test (areal×areal
# through the boolean kernel's intersection area, every other type pair
# through kernel/geomtypes.interiors_intersect). NULL in → NULL out.

def _dim(s: str) -> int:
    return 2 if _is_areal(s) else GT.dimension(GT.parse_wkt(s))

def _interiors_intersect(a: str, b: str) -> bool:
    if _is_areal(a) and _is_areal(b):
        return B.intersection_area(G.parse_wkt(a), G.parse_wkt(b)) > 0.0
    ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)
    if {ta[0], tb[0]} <= {"POLYGON", "MULTIPOLYGON"}:
        # 2D areal behind an SRID= prefix, which _is_areal does not read
        return B.intersection_area(G.parse_wkt(a), G.parse_wkt(b)) > 0.0
    return GT.interiors_intersect(ta, tb)

def _is_empty_geom(s: str) -> bool:
    _, data = GT.parse_wkt(s)
    return not data

def _any_empty(a: str, b: str) -> bool:
    """Either operand EMPTY. Both parse, so an operand the parser rejects
    raises beside an EMPTY one too, as the packed paths' decode does."""
    ea, eb = _is_empty_geom(a), _is_empty_geom(b)
    return ea or eb

def _intersects(a: str | None, b: str | None) -> bool | None:
    """SQL NULL propagates NULL; an EMPTY geometry intersects nothing
    (JTS convention: predicates on empties are false, not null)."""
    if a is None or b is None:
        return None
    if _any_empty(a, b):
        return False
    d = _distance(a, b)
    return None if d is None else d == 0.0

def _touches(a: str | None, b: str | None) -> bool | None:
    """JTS touches: the geometries intersect but only at boundary points
    (Int(a) ∩ Int(b) = ∅)."""
    inter = _intersects(a, b)
    if not inter:
        return inter  # None or False
    return not _interiors_intersect(a, b)

def _crosses(a: str | None, b: str | None) -> bool | None:
    """JTS crosses: interiors intersect in a lower dimension than the
    higher-dimensional operand — false for any areal×areal or
    puntal×puntal pair by definition; lineal×lineal requires a point
    crossing WITHOUT a shared positive-length stretch; mixed dimensions
    require interior contact plus a piece of the lower-dimensional side
    outside the other's closure."""
    if a is None or b is None:
        return None
    if _any_empty(a, b):
        return False
    da, db = _dim(a), _dim(b)
    if da == db:
        if da != 1:
            return False
        ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)
        if GT.lineal_shared_length(ta, tb) > 0.0:
            return False  # dim-1 intersection → overlaps territory
        return GT.interiors_intersect(ta, tb)
    low, high = (a, b) if da < db else (b, a)
    if not _interiors_intersect(low, high):
        return False
    if _dim(low) == 0:
        # some point of the multipoint strictly outside high's closure
        pts = GT.points_of(GT.parse_wkt(low))
        if _is_areal(high):
            gh = G.parse_wkt(high)
            return any(not GT.point_in_polygon(x, y, gh) for x, y in pts)
        segs = GT.segments_of(GT.parse_wkt(high))
        return any(all(GT._seg_pt_dist2(x, y, *s) > 0.0 for s in segs)
                   for x, y in pts)
    return not _contains(high, low)

def _transpose_de9im(m: str) -> str:
    """DE-9IM(b, a) is the matrix transpose of DE-9IM(a, b)."""
    return m[0] + m[3] + m[6] + m[1] + m[4] + m[7] + m[2] + m[5] + m[8]

def _relate_aa(a: str, b: str) -> str:
    """Areal×areal DE-9IM — each cell from primitives the engine already
    trusts: II from intersection area (interiors are open sets, so a
    nonempty intersection has dim 2); IB/BI from the lineal×areal
    interiors test on the ring boundary; IE/EI from covers; BB dim 1 on
    a shared boundary stretch, dim 0 on bare contact; BE/EB from covers
    of the boundary; EE always 2."""
    ga, gb = G.parse_wkt(a), G.parse_wkt(b)
    a_in_b = _contains(b, a)
    b_in_a = _contains(a, b)
    bnd_a = GT.parse_wkt(_boundary(a))
    bnd_b = GT.parse_wkt(_boundary(b))
    ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)

    ii = "2" if B.intersection_area(ga, gb) > 0.0 else "F"
    ib = "1" if GT.interiors_intersect(bnd_b, ta) else "F"
    bi = "1" if GT.interiors_intersect(bnd_a, tb) else "F"
    ie = "F" if a_in_b else "2"
    ei = "F" if b_in_a else "2"
    if GT.lineal_shared_length(bnd_a, bnd_b) > 0.0:
        bb = "1"
    else:
        touch = any(GT._seg_seg_dist2(s1, s2) == 0.0
                    for s1 in GT.segments_of(bnd_a)
                    for s2 in GT.segments_of(bnd_b))
        bb = "0" if touch else "F"
    be = "F" if GT.contains(tb, bnd_a) else "1"
    eb = "F" if GT.contains(ta, bnd_b) else "1"
    return f"{ii}{ib}{ie}{bi}{bb}{be}{ei}{eb}2"

def _pt_in_interior(p, geom) -> bool:
    return GT.strictly_inside(p[0], p[1], geom)

def _pt_on_lineal(p, tl) -> bool:
    return any(GT._seg_pt_dist2(p[0], p[1], *s) == 0.0
               for s in GT.segments_of(tl))

def _relate_al(a: str, b: str) -> str:
    """Areal a × lineal b."""
    ga = G.parse_wkt(a)
    ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)
    bnd_a = GT.parse_wkt(_boundary(a))
    terms_b = GT.path_terminals(tb)

    ii = "1" if GT.interiors_intersect(tb, ta) else "F"
    ib = ("0" if any(_pt_in_interior(p, ga) for p in terms_b) else "F")
    # BI: b's interior on a's boundary — dim 1 on a shared stretch,
    # dim 0 on a crossing/touch of the ring by the line's interior
    if GT.lineal_shared_length(bnd_a, tb) > 0.0:
        bi = "1"
    elif GT.interiors_intersect(bnd_a, tb):
        bi = "0"
    else:
        bi = "F"
    bb = ("0" if any(_pt_on_lineal(p, bnd_a) for p in terms_b) else "F")
    be = "F" if GT.contains(tb, bnd_a) else "1"
    ei = "F" if GT.contains(ta, tb) else "1"
    eb = ("0" if any(not GT.point_in_polygon(p[0], p[1], ga)
                     for p in terms_b) else "F")
    return f"{ii}{ib}2{bi}{bb}{be}{ei}{eb}2"

def _relate_ap(a: str, b: str) -> str:
    """Areal a × puntal b."""
    ga = G.parse_wkt(a)
    pts = GT.points_of(GT.parse_wkt(b))
    bnd_a = GT.parse_wkt(_boundary(a))

    ii = "0" if any(_pt_in_interior(p, ga) for p in pts) else "F"
    bi = "0" if any(_pt_on_lineal(p, bnd_a) for p in pts) else "F"
    ei = ("0" if any(not GT.point_in_polygon(p[0], p[1], ga)
                     for p in pts) else "F")
    return f"{ii}F2{bi}F1{ei}F2"

def _relate_ll(a: str, b: str) -> str:
    """Lineal × lineal."""
    ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)
    terms_a, terms_b = GT.path_terminals(ta), GT.path_terminals(tb)

    if GT.lineal_shared_length(ta, tb) > 0.0:
        ii = "1"
    elif GT.interiors_intersect(ta, tb):
        ii = "0"
    else:
        ii = "F"

    def int_contact(terms, other, own_terms):
        # a terminal of one side sitting on the other's interior
        return any(_pt_on_lineal(p, other) and p not in own_terms
                   for p in terms)

    ib = "0" if int_contact(terms_b, ta, terms_a) else "F"
    bi = "0" if int_contact(terms_a, tb, terms_b) else "F"
    bb = "0" if terms_a & terms_b else "F"
    ie = "F" if GT.contains(tb, ta) else "1"
    ei = "F" if GT.contains(ta, tb) else "1"
    be = ("0" if any(not _pt_on_lineal(p, tb) for p in terms_a) else "F")
    eb = ("0" if any(not _pt_on_lineal(p, ta) for p in terms_b) else "F")
    return f"{ii}{ib}{ie}{bi}{bb}{be}{ei}{eb}2"

def _relate_lp(a: str, b: str) -> str:
    """Lineal a × puntal b."""
    ta = GT.parse_wkt(a)
    pts = set(GT.points_of(GT.parse_wkt(b)))
    terms_a = GT.path_terminals(ta)

    ii = ("0" if any(_pt_on_lineal(p, ta) and p not in terms_a
                     for p in pts) else "F")
    bi = "0" if terms_a & pts else "F"
    be = "0" if terms_a - pts else "F"
    ei = ("0" if any(not _pt_on_lineal(p, ta) for p in pts) else "F")
    return f"{ii}F1{bi}F{be}{ei}F2"

def _relate_pp(a: str, b: str) -> str:
    """Puntal × puntal."""
    pa = set(GT.points_of(GT.parse_wkt(a)))
    pb = set(GT.points_of(GT.parse_wkt(b)))
    ii = "0" if pa & pb else "F"
    ie = "0" if pa - pb else "F"
    ei = "0" if pb - pa else "F"
    return f"{ii}F{ie}FFF{ei}F2"

def _relate(a: str | None, b: str | None) -> str | None:
    """ST_Relate: the full 9-cell DE-9IM matrix (row-major II IB IE /
    BI BB BE / EI EB EE) for EVERY type pair — dispatched by dimension
    pair, with the lower-dimensional-first cases computed once and
    transposed (DE-9IM(b, a) is the transpose of DE-9IM(a, b)). SQL/MM
    boundaries throughout: a closed linestring has an empty boundary,
    a point set has none. NULL → NULL; EMPTY raises."""
    if a is None or b is None:
        return None
    if _any_empty(a, b):
        raise G.GeomError("ST_Relate on EMPTY input")
    da, db = _dim(a), _dim(b)
    if da < db:
        return _transpose_de9im(_relate(b, a))
    if (da, db) == (2, 2):
        return _relate_aa(a, b)
    if (da, db) == (2, 1):
        return _relate_al(a, b)
    if (da, db) == (2, 0):
        return _relate_ap(a, b)
    if (da, db) == (1, 1):
        return _relate_ll(a, b)
    if (da, db) == (1, 0):
        return _relate_lp(a, b)
    return _relate_pp(a, b)

def _overlaps(a: str | None, b: str | None) -> bool | None:
    """JTS overlaps: same dimension, interiors share a region of that same
    dimension, and neither covers the other."""
    if a is None or b is None:
        return None
    if _any_empty(a, b):
        return False
    da, db = _dim(a), _dim(b)
    if da != db:
        return False
    if da == 2:
        ga, gb = G.parse_wkt(a), G.parse_wkt(b)
        ia = B.intersection_area(ga, gb)
        if ia <= 0.0:
            return False
        aa, ab = G.area(ga), G.area(gb)
        eps = 1e-9 * max(aa, ab, 1.0)
        return ia < aa - eps and ia < ab - eps
    ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)
    if da == 0:
        sa, sb = set(GT.points_of(ta)), set(GT.points_of(tb))
        common = sa & sb
        return bool(common) and common != sa and common != sb
    if GT.lineal_shared_length(ta, tb) <= 0.0:
        return False
    return not GT.contains(ta, tb) and not GT.contains(tb, ta)

def _equals(a: str | None, b: str | None) -> bool | None:
    """Topological equality (ST_Equals): mutual coverage at equal
    dimension — areal pairs via the area identity, lineal pairs via the
    typed covers test both ways, puntal pairs via vertex-set equality.
    EMPTY operands are never equal (documented engine choice; the covers
    tests below already return False on empties)."""
    if a is None or b is None:
        return None
    # both operands parse first, so a ring the parser rejects raises
    # whatever the other operand is, as the packed paths' decode does
    ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)
    da, db = _dim(a), _dim(b)
    if da != db:
        return False
    if da == 2:
        return bool(_contains(a, b)) and bool(_contains(b, a))
    if da == 0:
        pa, pb = GT.points_of(ta), GT.points_of(tb)
        return bool(pa) and set(pa) == set(pb)
    return GT.contains(ta, tb) and GT.contains(tb, ta)

def _distance(a: str | None, b: str | None) -> float | None:
    """Min distance between two polygon geometries (0 when they overlap or
    touch). Boundaries of disjoint polygons never cross, so the minimum is
    attained at a vertex-to-edge pair."""
    import math

    if a is None or b is None:
        return None
    if not (_is_areal(a) and _is_areal(b)):
        return GT.distance(GT.parse_wkt(a), GT.parse_wkt(b))
    ga, gb = G.parse_wkt(a), G.parse_wkt(b)
    if not ga or not gb:
        return None
    if B.intersection_area(ga, gb) > 0:
        return 0.0
    def segs(g):
        for poly in g:
            for ring in poly:
                n = len(ring)
                for i in range(n):
                    yield (*ring[i], *ring[(i + 1) % n])
    best = float("inf")
    sb = list(segs(gb))
    for ax1, ay1, ax2, ay2 in segs(ga):
        for bx1, by1, bx2, by2 in sb:
            best = min(
                best,
                _seg_pt_dist2(ax1, ay1, bx1, by1, bx2, by2),
                _seg_pt_dist2(ax2, ay2, bx1, by1, bx2, by2),
                _seg_pt_dist2(bx1, by1, ax1, ay1, ax2, ay2),
                _seg_pt_dist2(bx2, by2, ax1, ay1, ax2, ay2),
            )
    return math.sqrt(best)

# -------------------------------------------- accessors and constructors

def _num_geometries(s: str | None) -> int | None:
    """JTS getNumGeometries: member count of a multi-geometry or
    GEOMETRYCOLLECTION, 1 for a non-empty singular geometry, 0 for
    EMPTY."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if GT.basekind(kind) in ("POINT", "LINESTRING", "POLYGON"):
        return 1 if data else 0
    return len(data)

def _geometry_n(s: str | None, n: int) -> str | None:
    """Sedona ST_GeometryN (JTS getGeometryN): 0-based member of a multi-
    geometry or GEOMETRYCOLLECTION; for a singular geometry index 0
    returns the geometry itself. Out of range → NULL."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    base = GT.basekind(kind)
    if base in ("POINT", "LINESTRING", "POLYGON"):
        return GT.to_wkt((kind, data)) if n == 0 and data else None
    if not 0 <= n < len(data):
        return None
    if base == "GEOMETRYCOLLECTION":
        return GT.to_wkt(data[n])
    member = {"MULTIPOINT": "POINT", "MULTILINESTRING": "LINESTRING",
              "MULTIPOLYGON": "POLYGON"}[base]
    if kind.endswith(" Z"):
        member += " Z"
    return GT.to_wkt((member, [data[n]]))

def _point_n(s: str | None, n: int) -> str | None:
    """Sedona/PostGIS ST_PointN: 1-based vertex of a LINESTRING (negative
    counts from the end); NULL for any other type or out of range."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if kind != "LINESTRING" or not data:
        return None
    path = data[0]
    idx = n - 1 if n > 0 else len(path) + n
    if not 0 <= idx < len(path):
        return None
    return GT.to_wkt(("POINT", [path[idx]]))

def _terminal_point(s: str | None, last: bool) -> str | None:
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if kind != "LINESTRING" or not data:
        return None
    return GT.to_wkt(("POINT", [data[0][-1 if last else 0]]))

def _ring_to_path(ring: list) -> list:
    return list(ring) + [ring[0]]  # closed: first vertex repeated

def _exterior_ring(s: str | None) -> str | None:
    """ST_ExteriorRing: the closed outer ring of a POLYGON as a
    LINESTRING; NULL for any other type (PostGIS convention)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if kind != "POLYGON" or not data or not data[0]:
        return None
    return GT.to_wkt(("LINESTRING", [_ring_to_path(data[0][0])]))

def _boundary(s: str | None) -> str | None:
    """SQL/MM boundary: areal → every ring as a closed (MULTI)LINESTRING;
    lineal → the mod-2 terminal points as (MULTI)POINT; puntal →
    GEOMETRYCOLLECTION EMPTY (the JTS answer; possible since the r7 GC
    kernel — pre-r7 the carrier serialized POINT EMPTY). Z input takes
    the 2D projection; GEOMETRYCOLLECTION input raises (PostGIS errors
    there too)."""
    if s is None:
        return None
    kind, data = GT.strip_z(GT.parse_wkt(s))
    if kind == "GEOMETRYCOLLECTION":
        raise G.GeomError(
            "ST_Boundary of a GEOMETRYCOLLECTION is not supported")
    if kind in ("POLYGON", "MULTIPOLYGON"):
        paths = [_ring_to_path(ring) for poly in data for ring in poly]
        return GT.to_wkt(("MULTILINESTRING", paths))
    if kind in ("LINESTRING", "MULTILINESTRING"):
        from collections import Counter
        cnt = Counter(p for path in data for p in (path[0], path[-1]))
        pts = [p for path in data for p in (path[0], path[-1])
               if cnt[p] % 2 == 1]
        seen: set = set()
        pts = [p for p in pts if not (p in seen or seen.add(p))]
        return GT.to_wkt(("MULTIPOINT", pts))
    return "GEOMETRYCOLLECTION EMPTY"

def _is_valid(s: str | None) -> bool | None:
    """OGC validity for the carried types: areal input is valid iff its
    rings parse with ≥3 distinct vertices and the ring set has no
    self-intersections (kernel test backing make_valid); puntal/lineal
    input is valid iff it parses (JTS: always valid)."""
    if s is None:
        return None
    kind, data = GT.strip_z(GT.parse_wkt(s))
    if kind == "GEOMETRYCOLLECTION":
        # JTS: a collection is valid iff every member is
        return all(_is_valid(GT.to_wkt(m)) for m in data)
    if kind not in ("POLYGON", "MULTIPOLYGON"):
        return True
    # test on RAW deduped rings (same reason make_valid does): a symmetric
    # bowtie has signed area exactly 0 and normalize() would drop it as
    # degenerate before the crossing test could see it
    raw = [[G._dedupe(r) for r in poly] for poly in data]
    if any(len(r) < 3 for poly in raw for r in poly):
        return False
    return not G._has_self_intersections(raw)

def _flip_coordinates(s: str | None) -> str | None:
    """ST_FlipCoordinates: swap x and y in every vertex, type (and z)
    preserved; GC members flip recursively (kernel map_coords)."""
    if s is None:
        return None
    return GT.to_wkt(GT.map_coords(GT.parse_wkt(s), lambda x, y: (y, x)))

def _geometry_type(s: str | None) -> str | None:
    """Sedona/PostGIS ST_GeometryType: the type tag with the ST_ prefix
    (e.g. 'ST_Polygon'); Z variants report the base type (JTS
    getGeometryType carries no dimension suffix)."""
    if s is None:
        return None
    kind, _ = GT.parse_wkt(s)
    name = {"POINT": "Point", "MULTIPOINT": "MultiPoint",
            "LINESTRING": "LineString",
            "MULTILINESTRING": "MultiLineString",
            "POLYGON": "Polygon", "MULTIPOLYGON": "MultiPolygon",
            "GEOMETRYCOLLECTION": "GeometryCollection",
            }[GT.basekind(kind)]
    return f"ST_{name}"

def _dimension_of(s: str | None) -> int | None:
    if s is None:
        return None
    return GT.dimension(GT.parse_wkt(s))

def _is_empty(s: str | None) -> bool | None:
    if s is None:
        return None
    _, data = GT.parse_wkt(s)
    return not data

def _num_interior_rings(s: str | None) -> int | None:
    """PostGIS ST_NumInteriorRings: hole count of a POLYGON, NULL for any
    other type."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if kind != "POLYGON" or not data:
        return None
    return len(data[0]) - 1

def _interior_ring_n(s: str | None, n: int) -> str | None:
    """Sedona ST_InteriorRingN (JTS getInteriorRingN): the 0-based Nth hole
    of a POLYGON as a closed LINESTRING; NULL otherwise."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if kind != "POLYGON" or not data:
        return None
    holes = data[0][1:]
    if not 0 <= n < len(holes):
        return None
    return GT.to_wkt(("LINESTRING", [_ring_to_path(holes[n])]))

def _reverse(s: str | None) -> str | None:
    """ST_Reverse: vertex order reversed in every path/ring (open areal
    rings keep their anchor vertex), type and z kept, GC recursive."""
    if s is None:
        return None
    return GT.to_wkt(GT.reverse_order(GT.parse_wkt(s)))

def _translate(s: str | None, dx: float, dy: float) -> str | None:
    if s is None:
        return None
    return GT.to_wkt(GT.map_coords(GT.parse_wkt(s),
                                   lambda x, y: (x + dx, y + dy)))

def _azimuth(a: str | None, b: str | None) -> float | None:
    """ST_Azimuth: angle in radians clockwise from north, POINT→POINT,
    NULL for coincident points or non-point input (PostGIS raises for
    non-points; the engine's SQL surface prefers NULL)."""
    import math

    if a is None or b is None:
        return None
    ka, da = GT.parse_wkt(a)
    kb, db = GT.parse_wkt(b)
    if ka != "POINT" or kb != "POINT" or not da or not db:
        return None
    (x1, y1), (x2, y2) = da[0], db[0]
    if x1 == x2 and y1 == y2:
        return None
    az = math.atan2(x2 - x1, y2 - y1)
    return az if az >= 0 else az + 2 * math.pi

# ------------------------------------------------------- linear referencing

def _line_interpolate_point(s: str | None, f: float) -> str | None:
    """ST_LineInterpolatePoint: the point at fraction f ∈ [0, 1] of the
    LINESTRING's total length (f clamped like PostGIS raises — the
    engine's SQL surface prefers clamping; NULL for non-linestrings or
    zero-length lines)."""
    import math

    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if kind != "LINESTRING" or not data:
        return None
    path = data[0]
    segs = list(zip(path, path[1:]))
    lens = [math.hypot(q[0] - p[0], q[1] - p[1]) for p, q in segs]
    total = sum(lens)
    if total == 0.0:
        return None
    target = min(1.0, max(0.0, f)) * total
    for (p, q), ln in zip(segs, lens):
        if target <= ln or (p, q) == segs[-1]:
            t = 0.0 if ln == 0.0 else target / ln
            t = min(1.0, t)
            return GT.to_wkt(("POINT", [(p[0] + t * (q[0] - p[0]),
                                         p[1] + t * (q[1] - p[1]))]))
        target -= ln
    return None  # unreachable

def _line_locate_point(s: str | None, pt: str | None) -> float | None:
    """ST_LineLocatePoint: the fraction of the LINESTRING's length at
    the point on it closest to the given POINT."""
    import math

    if s is None or pt is None:
        return None
    kind, data = GT.parse_wkt(s)
    kp, dp = GT.parse_wkt(pt)
    if kind != "LINESTRING" or not data or kp != "POINT" or not dp:
        return None
    (px, py) = dp[0]
    path = data[0]
    best_d2, best_arc = math.inf, 0.0
    arc = 0.0
    for p, q in zip(path, path[1:]):
        dx, dy = q[0] - p[0], q[1] - p[1]
        ln2 = dx * dx + dy * dy
        t = 0.0 if ln2 == 0 else max(
            0.0, min(1.0, ((px - p[0]) * dx + (py - p[1]) * dy) / ln2))
        cx, cy = p[0] + t * dx, p[1] + t * dy
        d2 = (px - cx) ** 2 + (py - cy) ** 2
        ln = math.sqrt(ln2)
        if d2 < best_d2:
            best_d2 = d2
            best_arc = arc + t * ln
        arc += ln
    return 0.0 if arc == 0.0 else best_arc / arc

def _closest_point(a: str | None, b: str | None) -> str | None:
    """ST_ClosestPoint: the point ON a closest to b. Puntal/lineal a via
    per-segment projection; areal a via boundary projection unless b's
    representative point is inside (then b's point itself, distance 0 —
    the PostGIS convention). b contributes its vertices (exact for
    puntal b and for disjoint convex pairs; documented approximation
    for overlapping non-puntal pairs)."""
    import math

    if a is None or b is None:
        return None
    ta = GT.parse_wkt(a)
    tb = GT.parse_wkt(b)
    pb = GT.points_of(tb)
    if not pb or not GT.points_of(ta):
        return None
    ka, da = ta
    if ka in ("POLYGON", "MULTIPOLYGON"):
        for (x, y) in pb:
            if GT.point_in_polygon(x, y, da):
                return GT.to_wkt(("POINT", [(x, y)]))
    segs = GT.segments_of(ta)
    best_d2, best = math.inf, None
    if segs:
        for (x, y) in pb:
            for sx1, sy1, sx2, sy2 in segs:
                dx, dy = sx2 - sx1, sy2 - sy1
                ln2 = dx * dx + dy * dy
                t = 0.0 if ln2 == 0 else max(
                    0.0, min(1.0, ((x - sx1) * dx + (y - sy1) * dy) / ln2))
                cx, cy = sx1 + t * dx, sy1 + t * dy
                d2 = (x - cx) ** 2 + (y - cy) ** 2
                if d2 < best_d2:
                    best_d2, best = d2, (cx, cy)
    else:
        for (ax, ay) in GT.points_of(ta):
            for (x, y) in pb:
                d2 = (ax - x) ** 2 + (ay - y) ** 2
                if d2 < best_d2:
                    best_d2, best = d2, (ax, ay)
    return None if best is None else GT.to_wkt(("POINT", [best]))

# ------------------------------------------------- affine & precision (r7)

def _rotate(s: str | None, theta: float) -> str | None:
    """ST_Rotate(geom, rad): counter-clockwise rotation about the origin
    (the Sedona/PostGIS 2-arg form); z preserved, GC recursive."""
    import math

    if s is None:
        return None
    c, sn = math.cos(theta), math.sin(theta)
    return GT.to_wkt(GT.map_coords(GT.parse_wkt(s),
                                   lambda x, y: (c * x - sn * y,
                                                 sn * x + c * y)))

def _scale(s: str | None, fx: float, fy: float) -> str | None:
    """ST_Scale(geom, fx, fy): axis scaling about the origin."""
    if s is None:
        return None
    return GT.to_wkt(GT.map_coords(GT.parse_wkt(s),
                                   lambda x, y: (x * fx, y * fy)))

def _affine(s: str | None, a: float, b: float, d: float, e: float,
            xoff: float, yoff: float) -> str | None:
    """ST_Affine 2D (PostGIS 6-parameter form):
    x' = a·x + b·y + xoff, y' = d·x + e·y + yoff."""
    if s is None:
        return None
    return GT.to_wkt(GT.map_coords(GT.parse_wkt(s),
                                   lambda x, y: (a * x + b * y + xoff,
                                                 d * x + e * y + yoff)))

def _snap_to_grid(s: str | None, size: float) -> str | None:
    """ST_SnapToGrid(geom, size): every coordinate rounded to the nearest
    multiple of `size` (origin 0). Like PostGIS, collapsed geometry is
    returned as-is — no validity repair is implied."""
    if s is None or size <= 0:
        return None
    return GT.to_wkt(GT.map_coords(GT.parse_wkt(s),
                                   lambda x, y: (round(x / size) * size,
                                                 round(y / size) * size)))

def _reduce_precision(s: str | None, digits: int) -> str | None:
    """Sedona ST_ReducePrecision(geom, d): coordinates rounded to d
    decimal digits."""
    if s is None:
        return None
    return GT.to_wkt(GT.map_coords(GT.parse_wkt(s),
                                   lambda x, y: (round(x, digits),
                                                 round(y, digits))))

def _expand(s: str | None, d: float) -> str | None:
    """PostGIS ST_Expand: the envelope grown by d on every side, as a
    POLYGON (a degenerate envelope still expands to a box for d > 0)."""
    if s is None:
        return None
    pts = GT.points_of(GT.parse_wkt(s))
    if not pts:
        return "POLYGON EMPTY"
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    x1, x2 = min(xs) - d, max(xs) + d
    y1, y2 = min(ys) - d, max(ys) + d
    if x1 > x2 or y1 > y2:
        # negative d collapsed the box past its center
        return "POLYGON EMPTY"
    if x1 == x2 and y1 == y2:
        # PostGIS returns the degenerate box, not EMPTY (advice item 4)
        return GT.to_wkt(("POINT", [(x1, y1)]))
    if x1 == x2 or y1 == y2:
        return GT.to_wkt(("LINESTRING", [[(x1, y1), (x2, y2)]]))
    return G.to_wkt([[[(x1, y1), (x2, y1), (x2, y2), (x1, y2)]]])

def _force_multi_wkt(base: str, ztag: str, data) -> str:
    """MULTI* WKT that STAYS multi for singleton member lists — the typed
    to_wkt canonicalizes by member count, which is right everywhere except
    ST_Multi / ST_CollectionExtract, whose contract is the multi tag."""
    fp = GT._fmt_pt
    tag = base + ztag
    if not data:
        return f"{tag} EMPTY"
    if base == "MULTIPOINT":
        return f"{tag} (" + ", ".join(fp(p) for p in data) + ")"
    if base == "MULTILINESTRING":
        return f"{tag} (" + ", ".join(
            "(" + ", ".join(fp(p) for p in path) + ")"
            for path in data) + ")"
    def ring_txt(r):
        return "(" + ", ".join(fp(p) for p in list(r) + [r[0]]) + ")"
    return f"{tag} (" + ", ".join(
        "(" + ", ".join(ring_txt(r) for r in poly) + ")"
        for poly in data) + ")"

def _multi(s: str | None) -> str | None:
    """ST_Multi: singular geometry wrapped in its MULTI* type (already-
    multi and collections pass through — the PostGIS convention)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    base = GT.basekind(kind)
    wrap = {"POINT": "MULTIPOINT", "LINESTRING": "MULTILINESTRING",
            "POLYGON": "MULTIPOLYGON"}.get(base)
    if wrap is None or not data:
        return GT.to_wkt((kind, data))
    return _force_multi_wkt(wrap, " Z" if kind.endswith(" Z") else "",
                            data)

# ------------------------------------------------------- measure ops (r7)

def _perimeter(s: str | None) -> float | None:
    """ST_Perimeter: total ring length of areal geometry (holes counted,
    the PostGIS convention); 0 for lower-dimension input."""
    import math

    if s is None:
        return None
    return _perimeter_tg(GT.parse_wkt(s))


def _perimeter_tg(tg) -> float:
    import math

    kind, data = tg
    if GT.basekind(kind) == "GEOMETRYCOLLECTION":
        # sum areal members' ring lengths, like GT.area_of recurses
        # (PostGIS/JTS convention; r7 advice item 3)
        return sum(_perimeter_tg(m) for m in data)
    if GT.basekind(kind) not in ("POLYGON", "MULTIPOLYGON"):
        return 0.0
    return sum(math.hypot(x2 - x1, y2 - y1)
               for x1, y1, x2, y2 in GT.segments_of(tg))

def _angle3(p1: str | None, p2: str | None,
            p3: str | None) -> float | None:
    """ST_Angle(P1, P2, P3): the angle at vertex P2, measured clockwise
    from ray P2→P1 to ray P2→P3 in [0, 2pi) — exactly
    azimuth(P2, P3) − azimuth(P2, P1) mod 2pi, the PostGIS definition."""
    import math

    a1 = _azimuth(p2, p1)
    a2 = _azimuth(p2, p3)
    if a1 is None or a2 is None:
        return None
    return (a2 - a1) % (2 * math.pi)

def _closest_pair(ta, tb):
    """The argmin (point-on-a, point-on-b) pair over all vertex↔segment
    combinations — exact for disjoint geometries (the min distance is
    attained at a vertex of one side projected onto an edge of the
    other). Overlapping/contained pairs are the callers' fast paths."""
    import math

    best_d2, best = math.inf, None
    for (src, dst, flip) in ((ta, tb, False), (tb, ta, True)):
        segs = GT.segments_of(dst)
        for (x, y) in GT.points_of(src):
            if segs:
                for sx1, sy1, sx2, sy2 in segs:
                    dx, dy = sx2 - sx1, sy2 - sy1
                    ln2 = dx * dx + dy * dy
                    t = 0.0 if ln2 == 0 else max(
                        0.0, min(1.0,
                                 ((x - sx1) * dx + (y - sy1) * dy) / ln2))
                    cx, cy = sx1 + t * dx, sy1 + t * dy
                    d2 = (x - cx) ** 2 + (y - cy) ** 2
                    if d2 < best_d2:
                        best_d2 = d2
                        best = ((cx, cy), (x, y)) if flip else ((x, y),
                                                                (cx, cy))
            else:
                for (bx, by) in GT.points_of(dst):
                    d2 = (x - bx) ** 2 + (y - by) ** 2
                    if d2 < best_d2:
                        best_d2 = d2
                        best = ((bx, by), (x, y)) if flip else ((x, y),
                                                                (bx, by))
    return best

def _shortest_line(a: str | None, b: str | None) -> str | None:
    """ST_ShortestLine(a, b): the 2-point LINESTRING realizing the minimum
    distance, first point on a (PostGIS orientation). For intersecting
    pairs the line is degenerate at any shared point."""
    if a is None or b is None:
        return None
    ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)
    if not GT.points_of(ta) or not GT.points_of(tb):
        return None
    # shared/contained: a zero-length line at a witness point
    ka, da = ta
    kb, db = tb
    for (tg, other) in ((ta, tb), (tb, ta)):
        kind, data = tg
        if GT.basekind(kind) in ("POLYGON", "MULTIPOLYGON"):
            for (x, y) in GT.points_of(other):
                if GT.point_in_polygon(x, y, data):
                    return GT.to_wkt(("LINESTRING", [[(x, y), (x, y)]]))
    pair = _closest_pair(ta, tb)
    if pair is None:
        return None
    return GT.to_wkt(("LINESTRING", [list(pair)]))

def _max_distance(a: str | None, b: str | None) -> float | None:
    """ST_MaxDistance: the largest distance between any two points of the
    geometries — attained at a vertex pair (support of the farthest-point
    metric is the convex hulls' vertices)."""
    import math

    if a is None or b is None:
        return None
    pa = GT.points_of(GT.parse_wkt(a))
    pb = GT.points_of(GT.parse_wkt(b))
    if not pa or not pb:
        return None
    # hulls first: max distance is attained on hull vertices, and the
    # hull collapse keeps the vertex-pair scan quadratic only in hull size
    ha = G.convex_hull(pa) or pa
    hb = G.convex_hull(pb) or pb
    return math.sqrt(max((x1 - x2) ** 2 + (y1 - y2) ** 2
                         for x1, y1 in ha for x2, y2 in hb))

def _longest_line(a: str | None, b: str | None) -> str | None:
    """ST_LongestLine: the vertex pair realizing ST_MaxDistance, first
    point on a."""
    if a is None or b is None:
        return None
    pa = GT.points_of(GT.parse_wkt(a))
    pb = GT.points_of(GT.parse_wkt(b))
    if not pa or not pb:
        return None
    ha = G.convex_hull(pa) or pa
    hb = G.convex_hull(pb) or pb
    best = max(((x1 - x2) ** 2 + (y1 - y2) ** 2, (x1, y1), (x2, y2))
               for x1, y1 in ha for x2, y2 in hb)
    return GT.to_wkt(("LINESTRING", [[best[1], best[2]]]))

def _hausdorff_distance(a: str | None, b: str | None) -> float | None:
    """ST_HausdorffDistance — the discrete (vertex-sampled) Hausdorff
    distance JTS computes: max over vertices of each side of the true
    point-to-geometry distance to the other side (segments included on
    the target side, so only the SOURCE is vertex-discretized — the JTS
    DiscreteHausdorffDistance contract, exact for puntal input)."""
    if a is None or b is None:
        return None
    ta, tb = GT.parse_wkt(a), GT.parse_wkt(b)
    if not GT.points_of(ta) or not GT.points_of(tb):
        return None
    h = 0.0
    for (src, dst) in ((ta, tb), (tb, ta)):
        for (x, y) in GT.points_of(src):
            d = GT.distance(("POINT", [(x, y)]), dst)
            if d is not None and d > h:
                h = d
    return h

def _frechet_distance(a: str | None, b: str | None) -> float | None:
    """ST_FrechetDistance — the discrete Fréchet distance over the vertex
    sequences (the JTS implementation): classic O(n·m) dynamic program on
    the coupling lattice."""
    import math

    if a is None or b is None:
        return None
    pa = GT.points_of(GT.parse_wkt(a))
    pb = GT.points_of(GT.parse_wkt(b))
    if not pa or not pb:
        return None
    n, m = len(pa), len(pb)
    prev = [0.0] * m
    for i in range(n):
        cur = [0.0] * m
        for j in range(m):
            d = math.hypot(pa[i][0] - pb[j][0], pa[i][1] - pb[j][1])
            if i == 0 and j == 0:
                best = 0.0
            elif i == 0:
                best = cur[j - 1]
            elif j == 0:
                best = prev[j]
            else:
                best = min(prev[j], prev[j - 1], cur[j - 1])
            cur[j] = max(best, d)
        prev = cur
    return prev[m - 1]

def _bounding_diagonal(s: str | None) -> str | None:
    """PostGIS ST_BoundingDiagonal: LINESTRING(xmin ymin, xmax ymax)."""
    if s is None:
        return None
    pts = GT.points_of(GT.parse_wkt(s))
    if not pts:
        return None
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    return GT.to_wkt(("LINESTRING",
                      [[(min(xs), min(ys)), (max(xs), max(ys))]]))

# --------------------------------------------------------- shape ops (r7)

def _is_closed(s: str | None) -> bool | None:
    """ST_IsClosed: every path starts where it ends (lineal); puntal and
    areal input is closed by convention (PostGIS)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if GT.basekind(kind) not in ("LINESTRING", "MULTILINESTRING"):
        return True
    return all(len(path) >= 2 and path[0][:2] == path[-1][:2]
               for path in data) if data else False

def _segment_meet_ok(si, sj, i, j, seg_meta) -> bool:
    """True when segments i, j of a lineal geometry may touch without
    breaking simplicity: adjacent in the same path (two segments sharing
    an endpoint and not collinear can only meet AT that endpoint), the
    ring-closure pair, or path-endpoint-to-path-endpoint contact across
    paths. The crossing solve carries FP rounding, so endpoint matches
    compare by scaled distance, never exact equality."""
    import math

    if GT._collinear_overlap_len(si, sj) > 0.0:
        return False
    c = GT._crossing_point(si, sj)
    if c is None:
        return True
    path_i, idx_i, last_i, closed_i = seg_meta[i]
    path_j, idx_j, last_j, closed_j = seg_meta[j]
    if path_i == path_j:
        if abs(idx_i - idx_j) == 1:
            return True        # adjacent, not collinear: meet = shared vertex
        if closed_i and {idx_i, idx_j} == {0, last_i}:
            return True        # ring closure pair
        return False
    # across paths: only mutual path-ENDPOINT contact is simple
    scale = max(abs(v) for v in (*si, *sj)) or 1.0
    eps2 = (1e-9 * scale) ** 2

    def near(p, q):
        return (p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2 <= eps2

    ends_i = ([(si[0], si[1])] if idx_i == 0 else []) \
        + ([(si[2], si[3])] if idx_i == last_i else [])
    ends_j = ([(sj[0], sj[1])] if idx_j == 0 else []) \
        + ([(sj[2], sj[3])] if idx_j == last_j else [])
    return any(near(c, p) for p in ends_i) \
        and any(near(c, p) for p in ends_j)

def _is_simple(s: str | None) -> bool | None:
    """ST_IsSimple (JTS semantics): puntal — no repeated points; lineal —
    self-intersections only at shared endpoints (ring closure allowed);
    areal — rings free of self-crossings (valid-shape simplicity)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    base = GT.basekind(kind)
    if base == "GEOMETRYCOLLECTION":
        return all(_is_simple(GT.to_wkt(m)) for m in data)
    if base in ("POINT", "MULTIPOINT"):
        pts = GT.points_of((kind, data))
        return len(pts) == len(set(pts))
    if base in ("POLYGON", "MULTIPOLYGON"):
        raw = [[G._dedupe([p[:2] for p in r]) for r in poly]
               for poly in data]
        if any(len(r) < 3 for poly in raw for r in poly):
            return False
        return not G._has_self_intersections(raw)
    # lineal: enumerate segments with (path, index, last_index, closed)
    segs, meta = [], []
    for pi, path in enumerate(data):
        p2 = [p[:2] for p in path]
        closed = len(p2) >= 3 and p2[0] == p2[-1]
        for si in range(len(p2) - 1):
            segs.append((p2[si][0], p2[si][1], p2[si + 1][0],
                         p2[si + 1][1]))
            meta.append((pi, si, len(p2) - 2, closed))
    for i in range(len(segs)):
        for j in range(i + 1, len(segs)):
            if not _segment_meet_ok(segs[i], segs[j], i, j, meta):
                return False
    return True

def _is_ring(s: str | None) -> bool | None:
    """ST_IsRing: a LINESTRING that is both closed and simple."""
    if s is None:
        return None
    kind, _ = GT.parse_wkt(s)
    if GT.basekind(kind) != "LINESTRING":
        return None
    return bool(_is_closed(s)) and bool(_is_simple(s))

def _point_on_surface(s: str | None) -> str | None:
    """ST_PointOnSurface: a point guaranteed ON the geometry. Areal: the
    midpoint of the widest even-odd interval on a scanline chosen INSIDE
    a vertex-free y-band around the envelope's midline (no vertex can sit
    on the scanline, so the crossing parity is unambiguous — same idea as
    JTS's interior-point bisector, hardened). Lineal: the vertex nearest
    the centroid (interior vertices preferred — the JTS choice). Puntal:
    the vertex nearest the centroid."""
    import math

    if s is None:
        return None
    tg = GT.parse_wkt(s)
    kind, data = tg
    base = GT.basekind(kind)
    pts = GT.points_of(tg)
    if not pts:
        return None
    if base in ("POLYGON", "MULTIPOLYGON"):
        ys = sorted({p[1] for p in pts})
        if len(ys) == 1:
            y0 = ys[0]
        else:
            mid = (ys[0] + ys[-1]) / 2.0
            # the vertex-free band containing (or nearest) the midline
            import bisect
            k = max(1, min(len(ys) - 1, bisect.bisect_left(ys, mid)))
            y0 = (ys[k - 1] + ys[k]) / 2.0
        xs = []
        g2 = [[[p[:2] for p in ring] for ring in poly] for poly in data]
        for poly in g2:
            for ring in poly:
                n = len(ring)
                for i in range(n):
                    (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % n]
                    if (y1 < y0) != (y2 < y0):
                        xs.append(x1 + (y0 - y1) * (x2 - x1) / (y2 - y1))
        xs.sort()
        best, bx = -1.0, None
        for i in range(0, len(xs) - 1, 2):
            w = xs[i + 1] - xs[i]
            if w > best:
                best, bx = w, (xs[i] + xs[i + 1]) / 2.0
        if bx is None:
            bx, y0 = pts[0]
        return GT.to_wkt(("POINT", [(bx, y0)]))
    cx = sum(p[0] for p in pts) / len(pts)
    cy = sum(p[1] for p in pts) / len(pts)
    cand = pts
    if base in ("LINESTRING", "MULTILINESTRING"):
        interior = [p[:2] for path in data for p in path[1:-1]]
        if interior:
            cand = interior
    return GT.to_wkt(("POINT", [min(
        cand, key=lambda p: (p[0] - cx) ** 2 + (p[1] - cy) ** 2)]))

def _circle_2(p, q):
    cx, cy = (p[0] + q[0]) / 2.0, (p[1] + q[1]) / 2.0
    import math
    return (cx, cy, math.hypot(p[0] - cx, p[1] - cy))

def _circle_3(p, q, r):
    import math
    ax, ay = p
    bx, by = q
    cx, cy = r
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if d == 0.0:
        return None
    ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
          + (cx * cx + cy * cy) * (ay - by)) / d
    uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
          + (cx * cx + cy * cy) * (bx - ax)) / d
    return (ux, uy, math.hypot(ax - ux, ay - uy))

def _in_circle(c, p, eps=1e-9):
    import math
    return math.hypot(p[0] - c[0], p[1] - c[1]) <= c[2] * (1 + eps) + eps

def _welzl_mec(pts):
    """Minimum enclosing circle — Welzl's move-to-front algorithm run on
    the convex hull (the MEC is supported by hull vertices), iterative
    and deterministic (fixed hull order; no shuffle, determinism is part
    of the oracle contract). Hull sizes here are small, so the known
    worst case of unshuffled Welzl is irrelevant."""
    pts = G.convex_hull(pts) or list(dict.fromkeys(pts))
    if not pts:
        return None
    if len(pts) == 1:
        return (pts[0][0], pts[0][1], 0.0)
    c = _circle_2(pts[0], pts[1])
    for i in range(2, len(pts)):
        if _in_circle(c, pts[i]):
            continue
        # pts[i] is on the boundary of the new circle
        c = _circle_2(pts[0], pts[i])
        for j in range(1, i):
            if _in_circle(c, pts[j]):
                continue
            c = _circle_2(pts[i], pts[j])
            for k in range(j):
                if _in_circle(c, pts[k]):
                    continue
                c3 = _circle_3(pts[i], pts[j], pts[k])
                if c3 is not None:
                    c = c3
    return c

def _min_bounding_radius(s: str | None):
    """(center_wkt, radius) of the minimum enclosing circle (Sedona
    ST_MinimumBoundingRadius)."""
    if s is None:
        return None
    pts = GT.points_of(GT.parse_wkt(s))
    if not pts:
        return None
    c = _welzl_mec(pts)
    return (GT.to_wkt(("POINT", [(c[0], c[1])])), c[2])

def _min_bounding_circle(s: str | None, quadsegs: int = 12) -> str | None:
    """ST_MinimumBoundingCircle as a 4·quadsegs-gon (the Sedona/PostGIS
    polygonal rendering; a zero-radius circle degenerates to the point)."""
    if s is None:
        return None
    mbr = _min_bounding_radius(s)
    if mbr is None:
        return None
    center_wkt, r = mbr
    _, cdata = GT.parse_wkt(center_wkt)
    cx, cy = cdata[0]
    if r == 0.0:
        return GT.to_wkt(("POINT", [(cx, cy)]))
    return G.to_wkt([[_disc_ring(cx, cy, r, quadsegs)]])

def _geometric_median(s: str | None, tol: float = 1e-12,
                      max_iter: int = 200) -> str | None:
    """ST_GeometricMedian (Weiszfeld iteration over the vertices, PostGIS
    semantics for MULTIPOINT): the point minimizing the sum of distances.
    Starts at the centroid; an iterate landing on an input point takes
    the Vardi-Zhang step (the zero-weight guard alone stalls there); when
    the iteration exhausts its budget without meeting the step tolerance
    (sublinear near-singular configurations, e.g. duplicated vertices) a
    damped-Newton polish finishes the descent. Deterministic: fixed
    start, fixed caps, relative tolerances; symmetric inputs whose start
    IS the fixpoint break at iteration 1 and return it bit-exactly."""
    import math

    if s is None:
        return None
    pts = GT.points_of(GT.parse_wkt(s))
    if not pts:
        return None
    if len(pts) == 1:
        return GT.to_wkt(("POINT", [pts[0]]))
    cx = sum(p[0] for p in pts) / len(pts)
    cy = sum(p[1] for p in pts) / len(pts)
    scale = max(1.0, max(abs(p[0]) + abs(p[1]) for p in pts))
    converged = False
    for _ in range(max_iter):
        num_x = num_y = den = 0.0
        rx = ry = 0.0          # pull of the far points (for Vardi-Zhang)
        eta = 0                # multiplicity of the iterate among pts
        for (x, y) in pts:
            d = math.hypot(x - cx, y - cy)
            if d < 1e-15 * scale:
                eta += 1
                continue
            w = 1.0 / d
            num_x += x * w
            num_y += y * w
            den += w
            rx += (x - cx) * w
            ry += (y - cy) * w
        if den == 0.0:
            converged = True   # every point coincides with the iterate
            break
        tx, ty = num_x / den, num_y / den
        if eta:
            # Vardi-Zhang: iterate sits ON a data point of multiplicity
            # eta. If the pull of the far points ||R|| <= eta the data
            # point IS the optimum; otherwise move a (1 - eta/||R||)
            # fraction toward the Weiszfeld average of the far points.
            rnorm = math.hypot(rx, ry)
            if rnorm <= eta:
                converged = True
                break
            frac = eta / rnorm
            nx = (1.0 - frac) * tx + frac * cx
            ny = (1.0 - frac) * ty + frac * cy
        else:
            nx, ny = tx, ty
        if math.hypot(nx - cx, ny - cy) <= tol * scale:
            # keep the PREVIOUS iterate: it is already within tolerance,
            # and when the start is the exact optimum (symmetric input)
            # this returns it bit-exactly instead of a 1-ULP drift
            converged = True
            break
        cx, cy = nx, ny

    def total(px, py):
        return sum(math.hypot(px - x, py - y) for x, y in pts)

    if not converged:
        # Weiszfeld exhausted its budget still creeping sublinearly
        # (near-singular configurations — duplicated vertices, optimum
        # close to a data point). Damped Newton on f(p) = Σ‖p − x_i‖
        # converges quadratically away from the data points; a step is
        # accepted only when the cost strictly decreases (halved up to
        # 20 times otherwise), so the polish can never leave the result
        # worse than the Weiszfeld iterate it starts from.
        cur = total(cx, cy)
        for _ in range(60):
            gx = gy = hxx = hxy = hyy = 0.0
            singular = False
            for (x, y) in pts:
                dx, dy = cx - x, cy - y
                d = math.hypot(dx, dy)
                if d < 1e-15 * scale:
                    singular = True
                    break
                gx += dx / d
                gy += dy / d
                d3 = d * d * d
                hxx += (dy * dy) / d3
                hyy += (dx * dx) / d3
                hxy -= (dx * dy) / d3
            if singular:
                break          # landed on a data point: argmin decides
            gnorm = math.hypot(gx, gy)
            if gnorm <= 1e-12:
                break
            det = hxx * hyy - hxy * hxy
            if det > 1e-300:
                sx = -(hyy * gx - hxy * gy) / det
                sy = -(hxx * gy - hxy * gx) / det
            else:
                sx, sy = -gx / gnorm, -gy / gnorm
            step = 1.0
            improved = False
            for _ in range(20):
                px, py = cx + step * sx, cy + step * sy
                c = total(px, py)
                if c < cur:
                    cx, cy, cur = px, py, c
                    improved = True
                    break
                step *= 0.5
            if not improved:
                break
            if math.hypot(step * sx, step * sy) <= tol * scale:
                break

    # Weiszfeld's known failure mode: when the optimum IS an input point
    # the iteration slows to sublinear and the zero-weight guard keeps it
    # from landing exactly — finish with the argmin over {iterate} ∪
    # input points (an input point is kept only when STRICTLY better, so
    # symmetric fixtures still return the exact interior optimum)
    best_c, best_p = total(cx, cy), (cx, cy)
    for p in pts:
        c = total(p[0], p[1])
        if c < best_c:
            best_c, best_p = c, p
    return GT.to_wkt(("POINT", [best_p]))

# ----------------------------------------------------------- editors (r7)

def _line_substring(s: str | None, f1: float, f2: float) -> str | None:
    """ST_LineSubstring: the part of a LINESTRING between length fractions
    f1 ≤ f2 (clamped to [0, 1]); equal fractions degenerate to the POINT
    at that fraction (the PostGIS convention)."""
    import math

    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if GT.basekind(kind) != "LINESTRING" or not data:
        return None
    f1 = min(1.0, max(0.0, f1))
    f2 = min(1.0, max(0.0, f2))
    if f2 < f1:
        return None
    if f1 == f2:
        return _line_interpolate_point(s, f1)
    path = [p[:2] for p in data[0]]
    segs = list(zip(path, path[1:]))
    lens = [math.hypot(q[0] - p[0], q[1] - p[1]) for p, q in segs]
    total = sum(lens)
    if total == 0.0:
        return None

    def at(frac):
        target = frac * total
        acc = 0.0
        for idx, ((p, q), ln) in enumerate(zip(segs, lens)):
            if target <= acc + ln or idx == len(segs) - 1:
                t = 0.0 if ln == 0.0 else min(1.0, (target - acc) / ln)
                return idx, (p[0] + t * (q[0] - p[0]),
                             p[1] + t * (q[1] - p[1]))
            acc += ln
        return len(segs) - 1, path[-1]

    i1, p1 = at(f1)
    i2, p2 = at(f2)
    out = [p1] + [path[i + 1] for i in range(i1, i2)] + [p2]
    dedup = [out[0]]
    for p in out[1:]:
        if p != dedup[-1]:
            dedup.append(p)
    if len(dedup) < 2:
        return GT.to_wkt(("POINT", [dedup[0]]))
    return GT.to_wkt(("LINESTRING", [dedup]))

def _segmentize(s: str | None, max_len: float) -> str | None:
    """ST_Segmentize: every edge longer than max_len split into
    ceil(len/max_len) EQUAL parts (paths and polygon rings alike — the
    PostGIS planar behavior). Geometry is unchanged as a point set."""
    import math

    if s is None or max_len <= 0:
        return None
    kind, data = GT.parse_wkt(s)
    base = GT.basekind(kind)

    def densify(seq, close):
        pts = [p[:2] for p in seq]
        if close:
            pts = pts + [pts[0]]
        out = [pts[0]]
        for p, q in zip(pts, pts[1:]):
            ln = math.hypot(q[0] - p[0], q[1] - p[1])
            k = max(1, math.ceil(ln / max_len - 1e-12))
            for i in range(1, k):
                out.append((p[0] + (q[0] - p[0]) * i / k,
                            p[1] + (q[1] - p[1]) * i / k))
            out.append(q)
        return out[:-1] if close else out

    if base == "LINESTRING" or base == "MULTILINESTRING":
        return GT.to_wkt((base, [densify(path, False) for path in data]))
    if base == "POLYGON" or base == "MULTIPOLYGON":
        return GT.to_wkt((base, [[densify(r, True) for r in poly]
                                 for poly in data]))
    return GT.to_wkt((kind, data))  # puntal: nothing to densify

def _collection_extract(s: str | None, dim: int) -> str | None:
    """ST_CollectionExtract(geom, n): the members of dimension n−1
    (1 = points, 2 = lines, 3 = polygons) as the matching MULTI* —
    collections recurse, non-matching singular input yields the empty
    geometry of the requested type (PostGIS)."""
    if s is None or dim not in (1, 2, 3):
        return None
    want = {1: ("POINT", "MULTIPOINT"),
            2: ("LINESTRING", "MULTILINESTRING"),
            3: ("POLYGON", "MULTIPOLYGON")}[dim]
    out_kind = {1: "MULTIPOINT", 2: "MULTILINESTRING",
                3: "MULTIPOLYGON"}[dim]
    members = []

    def strip2(m):
        # drop z: the uniform internal shape is data = list of members
        # (points / paths / polys), so one projection per member suffices
        if dim == 1:
            return (m[0], m[1])
        if dim == 2:
            return [(p[0], p[1]) for p in m]
        return [[(p[0], p[1]) for p in ring] for ring in m]

    def walk(tg):
        kind, data = tg
        base = GT.basekind(kind)
        if base == "GEOMETRYCOLLECTION":
            for m in data:
                walk(m)
        elif base in want:
            members.extend(strip2(m) for m in data)

    walk(GT.parse_wkt(s))
    return _force_multi_wkt(out_kind, "", members)

def _simplify_wkt(s: str | None, tol: float) -> str | None:
    """ST_Simplify / ST_SimplifyPreserveTopology over WKT: Douglas–Peucker
    per path (endpoints kept) and per ring (closed-polyline form, anchor
    vertex kept; rings collapsing under 3 distinct vertices are dropped —
    the PostGIS behavior). Puntal input passes through."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    base = GT.basekind(kind)

    def simp_path(path):
        xs = [p[0] for p in path]
        ys = [p[1] for p in path]
        keep = G.simplify_polyline(xs, ys, tol)
        return [path[i] for i in keep]

    def simp_ring(ring):
        closed = list(ring) + [ring[0]]
        out = simp_path(closed)[:-1]
        return out if len(out) >= 3 else None

    if base in ("LINESTRING", "MULTILINESTRING"):
        return GT.to_wkt((kind, [simp_path(p) for p in data]))
    if base in ("POLYGON", "MULTIPOLYGON"):
        polys = []
        for poly in data:
            rings = [r for r in (simp_ring(ring) for ring in poly)
                     if r is not None]
            if rings and len(rings[0]) >= 3:
                polys.append(rings)
        return GT.to_wkt((kind, polys)) if polys else "POLYGON EMPTY"
    if base == "GEOMETRYCOLLECTION":
        return GT.to_wkt((kind, [GT.parse_wkt(_simplify_wkt(GT.to_wkt(m),
                                                            tol))
                                 for m in data]))
    return GT.to_wkt((kind, data))

# ----------------------------------------------- misc constructors (r7)

def _make_polygon(line: str | None) -> str | None:
    """ST_MakePolygon(shell): a closed LINESTRING becomes the polygon it
    bounds; NULL for open or non-lineal input (PostGIS raises; the SQL
    surface prefers NULL)."""
    if line is None:
        return None
    kind, data = GT.parse_wkt(line)
    if GT.basekind(kind) != "LINESTRING" or not data:
        return None
    path = [p[:2] for p in data[0]]
    if len(path) < 4 or path[0] != path[-1]:
        return None
    return G.to_wkt([[path[:-1]]])

def _remove_repeated_points(s: str | None) -> str | None:
    """ST_RemoveRepeatedPoints: drop consecutive duplicate vertices
    (rings keep their implicit closure; puntal input dedupes members)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    base = GT.basekind(kind)

    def dedupe(seq):
        out = [seq[0]]
        for p in seq[1:]:
            if p != out[-1]:
                out.append(p)
        return out

    if base in ("POINT", "MULTIPOINT"):
        seen: list = []
        for p in data:
            if p not in seen:
                seen.append(p)
        return GT.to_wkt((kind, seen))
    if base in ("LINESTRING", "MULTILINESTRING"):
        return GT.to_wkt((kind, [dedupe(p) for p in data]))
    if base in ("POLYGON", "MULTIPOLYGON"):
        return GT.to_wkt((kind, [[dedupe(r) for r in poly]
                                 for poly in data]))
    return GT.to_wkt((kind, data))

def _force_3d(s: str | None, z: float = 0.0) -> str | None:
    """ST_Force3D: add the given z to every 2D vertex (3D input is
    unchanged — the PostGIS convention)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)

    def add_z(tg):
        k, d = tg
        if k == "GEOMETRYCOLLECTION":
            return (k, [add_z(m) for m in d])
        if k.endswith(" Z"):
            return (k, d)
        base = GT.basekind(k)
        if base in ("POINT", "MULTIPOINT"):
            return (k + " Z", [(p[0], p[1], z) for p in d])
        if base in ("LINESTRING", "MULTILINESTRING"):
            return (k + " Z", [[(p[0], p[1], z) for p in path]
                               for path in d])
        return (k + " Z", [[[(p[0], p[1], z) for p in ring]
                            for ring in poly] for poly in d])

    return GT.to_wkt(add_z((kind, data)))

def _project_point(s: str | None, dist: float,
                   azimuth: float) -> str | None:
    """ST_Project(point, distance_m, azimuth_rad): the spherical
    destination point — great-circle forward problem on Sedona's
    6371008 m sphere (azimuth clockwise from north, PostGIS
    convention)."""
    import math

    if s is None:
        return None
    ll = _point_lonlat(s)
    if ll is None:
        return None
    lon1, lat1 = math.radians(ll[0]), math.radians(ll[1])
    ang = dist / _SPHERE_R
    lat2 = math.asin(math.sin(lat1) * math.cos(ang)
                     + math.cos(lat1) * math.sin(ang)
                     * math.cos(azimuth))
    lon2 = lon1 + math.atan2(
        math.sin(azimuth) * math.sin(ang) * math.cos(lat1),
        math.cos(ang) - math.sin(lat1) * math.sin(lat2))
    return GT.to_wkt(("POINT", [(math.degrees(lon2),
                                 math.degrees(lat2))]))

def _bound_of(s: str | None, which: str) -> float | None:
    """ST_XMin/ST_XMax/ST_YMin/ST_YMax over any geometry's vertices."""
    if s is None:
        return None
    pts = GT.points_of(GT.parse_wkt(s))
    if not pts:
        return None
    if which == "xmin":
        return min(p[0] for p in pts)
    if which == "xmax":
        return max(p[0] for p in pts)
    if which == "ymin":
        return min(p[1] for p in pts)
    return max(p[1] for p in pts)

def _num_points(s: str | None) -> int | None:
    """PostGIS ST_NumPoints: vertex count of a LINESTRING ONLY (NULL for
    every other type — distinct from ST_NPoints, which counts all)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if GT.basekind(kind) != "LINESTRING" or not data:
        return None
    return len(data[0])

# ------------------------------------------------------ line editors (r7)

def _add_point(line: str | None, pt: str | None,
               pos: int = -1) -> str | None:
    """ST_AddPoint(line, point[, position]): insert the point at the
    0-based index (−1 = append, the PostGIS default)."""
    if line is None or pt is None:
        return None
    kind, data = GT.parse_wkt(line)
    kp, dp = GT.parse_wkt(pt)
    if GT.basekind(kind) != "LINESTRING" or not data \
            or GT.basekind(kp) != "POINT" or not dp:
        return None
    path = list(data[0])
    p = dp[0]
    if pos == -1 or pos >= len(path):
        path.append(p)
    elif 0 <= pos:
        path.insert(pos, p)
    else:
        return None
    return GT.to_wkt(("LINESTRING", [path]))

def _remove_point(line: str | None, pos: int) -> str | None:
    """ST_RemovePoint(line, offset): drop the 0-based vertex; NULL when
    the removal would leave fewer than 2 vertices or is out of range."""
    if line is None:
        return None
    kind, data = GT.parse_wkt(line)
    if GT.basekind(kind) != "LINESTRING" or not data:
        return None
    path = list(data[0])
    if not 0 <= pos < len(path) or len(path) <= 2:
        return None
    del path[pos]
    return GT.to_wkt(("LINESTRING", [path]))

def _set_point(line: str | None, pos: int, pt: str | None) -> str | None:
    """ST_SetPoint(line, index, point): replace the vertex (negative
    index counts from the end, the PostGIS convention)."""
    if line is None or pt is None:
        return None
    kind, data = GT.parse_wkt(line)
    kp, dp = GT.parse_wkt(pt)
    if GT.basekind(kind) != "LINESTRING" or not data \
            or GT.basekind(kp) != "POINT" or not dp:
        return None
    path = list(data[0])
    if pos < 0:
        pos += len(path)
    if not 0 <= pos < len(path):
        return None
    path[pos] = dp[0]
    return GT.to_wkt(("LINESTRING", [path]))

def _snap(g: str | None, ref: str | None, tol: float) -> str | None:
    """ST_Snap(geom, ref, tol) — the JTS two-phase snapper: (1) every
    vertex of geom moves to the nearest REF VERTEX within tol; (2) ref
    vertices lying within tol of a geom segment (but not near its
    endpoints) are inserted into that segment, ordered along it."""
    import math

    if g is None or ref is None:
        return None
    tg = GT.parse_wkt(g)
    ref_pts = GT.points_of(GT.parse_wkt(ref))
    if not ref_pts:
        return GT.to_wkt(tg)

    def snap_vertex(x, y):
        best, bd = (x, y), tol
        for (rx, ry) in ref_pts:
            d = math.hypot(rx - x, ry - y)
            if d <= bd:
                best, bd = (rx, ry), d
        return best

    tg = GT.map_coords(tg, snap_vertex)

    def densify_path(path, close):
        pts = [p[:2] for p in path]
        if close:
            pts = pts + [pts[0]]
        out = [pts[0]]
        for p, q in zip(pts, pts[1:]):
            dx, dy = q[0] - p[0], q[1] - p[1]
            ln2 = dx * dx + dy * dy
            ins = []
            if ln2 > 0:
                for (rx, ry) in ref_pts:
                    if (rx, ry) == p or (rx, ry) == q:
                        continue
                    t = ((rx - p[0]) * dx + (ry - p[1]) * dy) / ln2
                    if not 0.0 < t < 1.0:
                        continue
                    cx, cy = p[0] + t * dx, p[1] + t * dy
                    if math.hypot(rx - cx, ry - cy) <= tol:
                        ins.append((t, (rx, ry)))
            for _, r in sorted(ins):
                if r != out[-1]:
                    out.append(r)
            if q != out[-1]:
                out.append(q)
        return out[:-1] if close else out

    kind, data = tg
    base = GT.basekind(kind)
    if base in ("LINESTRING", "MULTILINESTRING"):
        return GT.to_wkt((base, [densify_path(p, False) for p in data]))
    if base in ("POLYGON", "MULTIPOLYGON"):
        return GT.to_wkt((base, [[densify_path(r, True) for r in poly]
                                 for poly in data]))
    return GT.to_wkt(tg)

def _split(target: str | None, blade: str | None) -> str | None:
    """ST_Split for lineal targets: by POINT/MULTIPOINT (cut at points
    lying ON the line) or by a lineal blade (cut at proper crossings).
    Returns a GEOMETRYCOLLECTION of LINESTRING pieces (the PostGIS
    shape). Areal targets are a documented engine boundary."""
    import math

    if target is None or blade is None:
        return None
    kt, dt = GT.parse_wkt(target)
    if GT.basekind(kt) not in ("LINESTRING", "MULTILINESTRING"):
        raise G.GeomError("ST_Split supports lineal targets only")
    tb = GT.parse_wkt(blade)
    kb, _ = tb
    cut_pts = []
    if GT.basekind(kb) in ("POINT", "MULTIPOINT"):
        cut_pts = GT.points_of(tb)
    cut_set = set(cut_pts)
    pieces = []
    for path in dt:
        pts = [p[:2] for p in path]
        cur = [pts[0]]
        for seg_i, (p, q) in enumerate(zip(pts, pts[1:])):
            dx, dy = q[0] - p[0], q[1] - p[1]
            ln2 = dx * dx + dy * dy
            cuts = []
            if GT.basekind(kb) in ("POINT", "MULTIPOINT"):
                for (rx, ry) in cut_pts:
                    if ln2 == 0:
                        continue
                    t = ((rx - p[0]) * dx + (ry - p[1]) * dy) / ln2
                    if not 0.0 < t < 1.0:
                        continue
                    cx, cy = p[0] + t * dx, p[1] + t * dy
                    if math.hypot(rx - cx, ry - cy) == 0.0:
                        cuts.append((t, (rx, ry)))
            else:
                for sb in GT.segments_of(tb):
                    c = GT._crossing_point((p[0], p[1], q[0], q[1]), sb)
                    if c is None or c == p or c == q:
                        continue
                    t = ((c[0] - p[0]) * dx + (c[1] - p[1]) * dy) \
                        / ln2 if ln2 else 0.0
                    if 0.0 < t < 1.0:
                        cuts.append((t, c))
            for _, c in sorted(cuts):
                if c != cur[-1]:
                    cur.append(c)
                    pieces.append(cur)
                    cur = [c]
            if q != cur[-1] or len(cur) == 1:
                cur.append(q)
            # a blade point ON an interior vertex also cuts (PostGIS)
            if q in cut_set and seg_i < len(pts) - 2 and len(cur) >= 2:
                pieces.append(cur)
                cur = [q]
        if len(cur) >= 2:
            pieces.append(cur)
    members = [("LINESTRING", [p]) for p in pieces]
    if not members:
        return "GEOMETRYCOLLECTION EMPTY"
    return GT.to_wkt(("GEOMETRYCOLLECTION", members))

def _subdivide(s: str | None, max_vertices: int) -> str | None:
    """ST_Subdivide (PostGIS): recursively halve the geometry's bbox
    along its longer axis and clip, until every piece carries at most
    max_vertices WKT vertices (closing duplicates counted, like
    ST_NPoints). The classic spatial-join optimization: pieces index and
    join far better than continent-sized polygons. Areal geometry only
    (the scale use case); max_vertices >= 5 as in PostGIS. Returns a
    GEOMETRYCOLLECTION of POLYGON pieces — pair with ST_Dump to explode."""
    if s is None:
        return None
    if max_vertices < 5:
        raise G.GeomError("ST_Subdivide requires max_vertices >= 5")
    if not _is_areal(s):
        raise G.GeomError("ST_Subdivide supports areal geometry only")
    g = G.normalize(G.parse_wkt(s))

    def npts(poly):
        return sum(len(r) + 1 for r in poly)

    pieces: list = []
    budget = [4096]  # hard piece cap: splitting stops, never the query

    def rec(poly, depth, stall):
        n_parent = npts(poly)
        if n_parent <= max_vertices or depth >= 24 or budget[0] <= 0 \
                or stall >= 3:
            # stall >= 3: three consecutive halvings without vertex loss
            # — clipping adds cut vertices, so one flat level is normal,
            # but a piece that refuses to shrink across both axes twice
            # is emitted as-is (best-effort, like PostGIS near its own
            # limits); area is always exactly preserved either way
            pieces.append(poly)
            return
        xs = [p[0] for r in poly for p in r]
        ys = [p[1] for r in poly for p in r]
        x1, x2 = min(xs), max(xs)
        y1, y2 = min(ys), max(ys)
        if x2 - x1 >= y2 - y1:
            mx = (x1 + x2) / 2.0
            halves = ([(x1, y1), (mx, y1), (mx, y2), (x1, y2)],
                      [(mx, y1), (x2, y1), (x2, y2), (mx, y2)])
        else:
            my = (y1 + y2) / 2.0
            halves = ([(x1, y1), (x2, y1), (x2, my), (x1, my)],
                      [(x1, my), (x2, my), (x2, y2), (x1, y2)])
        children = [piece for window in halves
                    for piece in G.clip_convex([poly], window)]
        budget[0] -= 1
        for piece in children:
            rec(piece, depth + 1,
                stall + 1 if npts(piece) >= n_parent else 0)

    for poly in g:
        rec(poly, 0, 0)
    if not pieces:
        return "GEOMETRYCOLLECTION EMPTY"
    members = [("POLYGON", [[[(p[0], p[1]) for p in r] for r in poly]])
               for poly in pieces]
    return GT.to_wkt(("GEOMETRYCOLLECTION", members))

# --------------------------------------------------- triangulation (r7)

def _delaunay_triangles(s: str | None) -> str | None:
    """ST_DelaunayTriangles: the Delaunay triangulation of the input's
    vertices as a GEOMETRYCOLLECTION of CCW POLYGON triangles (the
    Sedona/JTS shape). Scan triangulation + Lawson flips
    (kernel/triangulate.py) — exact incircle on integer lattices,
    deterministic canonical ordering. Collinear input → empty
    collection."""
    from ..kernel import triangulate as TRI

    if s is None:
        return None
    pts = GT.points_of(GT.parse_wkt(s))
    if not pts:
        return None
    vids, tris = TRI.delaunay(pts)
    if not tris:
        return "GEOMETRYCOLLECTION EMPTY"
    members = [("POLYGON", [[[vids[i], vids[j], vids[k]]]])
               for (i, j, k) in tris]
    return GT.to_wkt(("GEOMETRYCOLLECTION", members))

def _concave_hull(s: str | None, pct_convex: float) -> str | None:
    """ST_ConcaveHull(geom, pctConvex): Delaunay border erosion by edge
    length ratio (the JTS ConcaveHullByLengthRatio construction;
    kernel/triangulate.py). pctConvex=1 → the convex hull; smaller values
    erode long border edges while keeping the region simply connected.
    Degenerate (collinear / <3 distinct points) input falls back to the
    convex-hull degenerate shapes."""
    if s is None:
        return None
    from ..kernel import triangulate as TRI

    pts = GT.points_of(GT.parse_wkt(s))
    if not pts:
        return None
    ring = TRI.concave_hull(pts, float(pct_convex))
    if ring is None:
        return _convex_hull(s)
    return G.to_wkt([[ring]])

def _voronoi_polygons(s: str | None) -> str | None:
    """ST_VoronoiPolygons: the Voronoi cells of the input's vertices,
    clipped to the bbox expanded by its larger side (the JTS
    VoronoiDiagramBuilder default envelope), as a GEOMETRYCOLLECTION of
    convex CCW POLYGON cells in deduped-sorted site order (deterministic;
    JTS emits triangulation order instead — documented divergence)."""
    from ..kernel import triangulate as TRI

    if s is None:
        return None
    pts = GT.points_of(GT.parse_wkt(s))
    if not pts:
        return None
    _, cells = TRI.voronoi_cells(pts)
    members = [("POLYGON", [[cell]]) for cell in cells if len(cell) >= 3]
    if not members:
        return "GEOMETRYCOLLECTION EMPTY"
    return GT.to_wkt(("GEOMETRYCOLLECTION", members))

# -------------------------------------------------------- geodesic measures

# Sedona's ST_DistanceSphere default radius (its docs: "default 6371008.0")
_SPHERE_R = 6371008.0
# IUGG mean radius R1 — the constant turf.js/Chamberlain–Duquette area uses
_AREA_R = 6371008.8
_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563


def _point_lonlat(s: str):
    """(lon, lat) of a POINT / POINT Z, else None (the engine's SQL
    surface prefers NULL over raising for non-point geodesic input)."""
    kind, data = GT.parse_wkt(s)
    if GT.basekind(kind) != "POINT" or not data:
        return None
    lon, lat = data[0][0], data[0][1]
    if not (-180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0):
        raise G.GeomError("geodesic measures require EPSG:4326 lon/lat")
    return lon, lat


def _distance_sphere(a: str | None, b: str | None,
                     radius: float = _SPHERE_R) -> float | None:
    """Sedona ST_DistanceSphere: haversine great-circle distance in metres
    between two EPSG:4326 POINTs (the lat/lon call users reach for before
    any CRS reprojection — the reference's own workaround is the
    ST_Transform chain at spark_job/process_geodata.py:133-136).
    Closed-form, hence exactly replicable in the DuckDB oracle."""
    import math

    if a is None or b is None:
        return None
    pa, pb = _point_lonlat(a), _point_lonlat(b)
    if pa is None or pb is None:
        return None
    lon1, lat1 = map(math.radians, pa)
    lon2, lat2 = map(math.radians, pb)
    h = (math.sin((lat2 - lat1) / 2.0) ** 2
         + math.cos(lat1) * math.cos(lat2)
         * math.sin((lon2 - lon1) / 2.0) ** 2)
    return 2.0 * radius * math.asin(math.sqrt(h))


def _distance_spheroid(a: str | None, b: str | None) -> float | None:
    """Sedona ST_DistanceSpheroid: geodesic distance on the WGS84
    ellipsoid — Vincenty's inverse formula (Vincenty 1975, the published
    iteration), ~0.5 mm accuracy. Near-antipodal pairs where the lambda
    iteration fails to converge fall back to the haversine sphere
    (documented engine boundary; GeographicLib handles those exactly)."""
    if a is None or b is None:
        return None
    pa, pb = _point_lonlat(a), _point_lonlat(b)
    if pa is None or pb is None:
        return None
    (lon1, lat1), (lon2, lat2) = pa, pb
    d = _vincenty_m(lon1, lat1, lon2, lat2)
    if d is None:
        return _distance_sphere(a, b)
    return d


def _vincenty_m(lon1: float, lat1: float, lon2: float,
                lat2: float) -> float | None:
    """Vincenty inverse on WGS84, coordinate-level core (shared by
    ST_DistanceSpheroid and ST_LengthSpheroid). None = the lambda
    iteration did not converge (near-antipodal; callers fall back to
    the haversine sphere)."""
    import math

    if lon1 == lon2 and lat1 == lat2:
        return 0.0
    f = _WGS84_F
    big_a_axis = _WGS84_A
    b_axis = (1.0 - f) * big_a_axis
    u1 = math.atan((1.0 - f) * math.tan(math.radians(lat1)))
    u2 = math.atan((1.0 - f) * math.tan(math.radians(lat2)))
    big_l = math.radians(lon2 - lon1)
    sin_u1, cos_u1 = math.sin(u1), math.cos(u1)
    sin_u2, cos_u2 = math.sin(u2), math.cos(u2)
    lam = big_l
    converged = False
    for _ in range(100):
        sin_lam, cos_lam = math.sin(lam), math.cos(lam)
        sin_sigma = math.hypot(cos_u2 * sin_lam,
                               cos_u1 * sin_u2 - sin_u1 * cos_u2 * cos_lam)
        if sin_sigma == 0.0:
            return 0.0
        cos_sigma = sin_u1 * sin_u2 + cos_u1 * cos_u2 * cos_lam
        sigma = math.atan2(sin_sigma, cos_sigma)
        sin_alpha = cos_u1 * cos_u2 * sin_lam / sin_sigma
        cos2_alpha = 1.0 - sin_alpha * sin_alpha
        cos_2sm = (cos_sigma - 2.0 * sin_u1 * sin_u2 / cos2_alpha
                   if cos2_alpha != 0.0 else 0.0)
        c = f / 16.0 * cos2_alpha * (4.0 + f * (4.0 - 3.0 * cos2_alpha))
        lam_prev = lam
        lam = big_l + (1.0 - c) * f * sin_alpha * (
            sigma + c * sin_sigma * (
                cos_2sm + c * cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)))
        if abs(lam - lam_prev) < 1e-12:
            converged = True
            break
    if not converged:
        return None
    usq = cos2_alpha * (big_a_axis ** 2 - b_axis ** 2) / b_axis ** 2
    aa = 1.0 + usq / 16384.0 * (
        4096.0 + usq * (-768.0 + usq * (320.0 - 175.0 * usq)))
    bb = usq / 1024.0 * (256.0 + usq * (-128.0 + usq * (74.0 - 47.0 * usq)))
    dsig = bb * sin_sigma * (cos_2sm + bb / 4.0 * (
        cos_sigma * (-1.0 + 2.0 * cos_2sm * cos_2sm)
        - bb / 6.0 * cos_2sm * (-3.0 + 4.0 * sin_sigma * sin_sigma)
        * (-3.0 + 4.0 * cos_2sm * cos_2sm)))
    return b_axis * aa * (sigma - dsig)


def _area_spheroid(s: str | None) -> float | None:
    """Sedona ST_AreaSpheroid stand-in: spherical-excess polygon area on
    the IUGG mean-radius sphere via the Chamberlain–Duquette formula
    (JPL Publication 07-3; the turf.js/geojson-area algorithm):
        A = |Σ_edges (λ2 − λ1)(2 + sin φ1 + sin φ2)| · R² / 2,
    holes subtracted. Spherical, not ellipsoidal — relative error vs
    GeographicLib ≤ ~0.3% (the flattening bound), documented. Closed-form
    per edge, hence exactly replicable in the DuckDB oracle. Non-areal
    input → 0; GEOMETRYCOLLECTION sums areal members."""
    import math

    if s is None:
        return None

    def ring_excess(ring) -> float:
        acc = 0.0
        n = len(ring)
        for i in range(n):
            lon1, lat1 = ring[i][0], ring[i][1]
            lon2, lat2 = ring[(i + 1) % n][0], ring[(i + 1) % n][1]
            acc += (math.radians(lon2) - math.radians(lon1)) * (
                2.0 + math.sin(math.radians(lat1))
                + math.sin(math.radians(lat2)))
        return abs(acc) * _AREA_R * _AREA_R / 2.0

    def geom_area(data) -> float:
        total = 0.0
        for poly in data:
            if not poly:
                continue
            total += ring_excess(poly[0])
            for hole in poly[1:]:
                total -= ring_excess(hole)
        return total

    if _is_areal(s):
        return geom_area(G.parse_wkt(s))
    tg = GT.strip_z(GT.parse_wkt(s))

    def walk(t) -> float:
        kind, data = t
        if kind == "GEOMETRYCOLLECTION":
            return sum(walk(m) for m in data)
        if kind in ("POLYGON", "MULTIPOLYGON"):
            return geom_area(data)
        return 0.0

    return walk(tg)


# ------------------------------------------------------ GeoJSON interchange

def _geojson_coords(kind: str, data) -> list:
    if kind == "POINT":
        return list(data[0]) if data else []
    if kind == "MULTIPOINT":
        return [list(p) for p in data]
    if kind == "LINESTRING":
        return [list(p) for p in data[0]] if data else []
    if kind == "MULTILINESTRING":
        return [[list(p) for p in path] for path in data]
    if kind == "POLYGON":
        poly = data[0] if data else []
        return [[list(p) for p in _ring_to_path(r)] for r in poly]
    return [[[list(p) for p in _ring_to_path(r)] for r in poly]
            for poly in data]

def _as_geojson(s: str | None) -> str | None:
    """RFC 7946 geometry object, canonical form: keys in (type,
    coordinates) order, no whitespace, numbers through the kernel's
    shortest-repr formatter (integer-valued coordinates print as
    integers — what makes the concat-built SQL oracle possible).
    Z geometries emit 3-element positions (RFC 7946 §3.1.1);
    GEOMETRYCOLLECTION emits the GeometryCollection object with a
    "geometries" member array."""
    if s is None:
        return None

    def render(obj):
        if isinstance(obj, (list, tuple)):
            return "[" + ",".join(render(o) for o in obj) + "]"
        return G._fmt(obj)

    def geom_obj(tg):
        kind, data = tg
        base = GT.basekind(kind)
        if base == "GEOMETRYCOLLECTION":
            members = ",".join(geom_obj(m) for m in data)
            return f'{{"type":"GeometryCollection","geometries":[{members}]}}'
        name = {"POINT": "Point", "MULTIPOINT": "MultiPoint",
                "LINESTRING": "LineString",
                "MULTILINESTRING": "MultiLineString",
                "POLYGON": "Polygon", "MULTIPOLYGON": "MultiPolygon"}[base]
        coords = _geojson_coords(base, data)
        return f'{{"type":"{name}","coordinates":{render(coords)}}}'

    return geom_obj(GT.parse_wkt(s))

def _geojson_member(obj):
    """One GeoJSON geometry object -> tgeom (Z positions preserved,
    GeometryCollection recursive)."""
    name = obj.get("type")
    if name == "GeometryCollection":
        return ("GEOMETRYCOLLECTION",
                [_geojson_member(m) for m in obj.get("geometries", [])])
    coords = obj.get("coordinates", [])

    def as_pt(c):
        if len(c) >= 3:
            return (float(c[0]), float(c[1]), float(c[2]))
        return (float(c[0]), float(c[1]))

    def ztag(pts):
        return " Z" if any(len(p) == 3 for p in pts) else ""

    def open_ring(ring):
        pts = [as_pt(p) for p in ring]
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]
        return pts

    if name == "Point":
        pts = [as_pt(coords)] if coords else []
        return ("POINT" + ztag(pts), pts)
    if name == "MultiPoint":
        pts = [as_pt(p) for p in coords]
        return ("MULTIPOINT" + ztag(pts), pts)
    if name == "LineString":
        paths = [[as_pt(p) for p in coords]] if coords else []
        return ("LINESTRING" + ztag([p for pa in paths for p in pa]), paths)
    if name == "MultiLineString":
        paths = [[as_pt(p) for p in path] for path in coords]
        return ("MULTILINESTRING" + ztag([p for pa in paths for p in pa]),
                paths)
    if name == "Polygon":
        polys = [[open_ring(r) for r in coords]] if coords else []
    elif name == "MultiPolygon":
        polys = [[open_ring(r) for r in poly] for poly in coords]
    else:
        raise G.GeomError(f"unsupported GeoJSON type {name!r}")
    flat = [p for poly in polys for r in poly for p in r]
    word = "POLYGON" if name == "Polygon" else "MULTIPOLYGON"
    return (word + ztag(flat), polys)

def _geom_from_geojson(s: str | None) -> str | None:
    """Parse an RFC 7946 geometry object back to canonical WKT. Polygon
    rings arrive closed (first == last vertex) and re-open into the
    kernel representation; single-member multis collapse per the
    canonicalization convention. Z positions and GeometryCollection
    round-trip (r7)."""
    import json

    if s is None:
        return None
    return GT.to_wkt(_geojson_member(json.loads(s)))

# --------------------------------------------------------------- ST_GeoHash

_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"

def _geohash(s: str | None, precision: int) -> str | None:
    """Sedona ST_GeoHash: base-32 geohash of the geometry's
    representative point (the point itself for POINT input, the envelope
    center otherwise), classic interval-bisection algorithm, lon/lat in
    EPSG:4326. Precision = output length in characters."""
    if s is None or precision <= 0:
        return None
    kind, data = GT.parse_wkt(s)
    if kind == "POINT" and data:
        lon, lat = data[0]
    else:
        x1, y1, x2, y2 = GT.bounds((kind, data))
        if x1 > x2:
            return None
        lon, lat = (x1 + x2) / 2.0, (y1 + y2) / 2.0
    if not (-180.0 <= lon <= 180.0 and -90.0 <= lat <= 90.0):
        raise G.GeomError("ST_GeoHash requires EPSG:4326 lon/lat input")
    lo_x, hi_x, lo_y, hi_y = -180.0, 180.0, -90.0, 90.0
    out, bits, ch, even = [], 0, 0, True
    while len(out) < precision:
        if even:
            mid = (lo_x + hi_x) / 2
            if lon >= mid:
                ch = (ch << 1) | 1
                lo_x = mid
            else:
                ch <<= 1
                hi_x = mid
        else:
            mid = (lo_y + hi_y) / 2
            if lat >= mid:
                ch = (ch << 1) | 1
                lo_y = mid
            else:
                ch <<= 1
                hi_y = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(_GEOHASH32[ch])
            bits, ch = 0, 0
    return "".join(out)

def _geohash_decode(gh: str) -> tuple[float, float, float, float]:
    """(west, south, east, north) of the geohash cell — the inverse
    bisection walk. All bounds are dyadic rationals (denominators
    2^ceil(5p/2)), so every arithmetic step is exact in doubles."""
    lo_x, hi_x, lo_y, hi_y = -180.0, 180.0, -90.0, 90.0
    even = True
    for ch in gh:
        idx = _GEOHASH32.find(ch)
        if idx < 0:
            raise G.GeomError(f"invalid geohash character {ch!r}")
        for bit in (16, 8, 4, 2, 1):
            if even:
                mid = (lo_x + hi_x) / 2
                if idx & bit:
                    lo_x = mid
                else:
                    hi_x = mid
            else:
                mid = (lo_y + hi_y) / 2
                if idx & bit:
                    lo_y = mid
                else:
                    hi_y = mid
            even = not even
    return (lo_x, lo_y, hi_x, hi_y)

def _geom_from_geohash(gh: str | None) -> str | None:
    """Sedona ST_GeomFromGeoHash: the cell's bounding-box POLYGON."""
    if gh is None:
        return None
    w, s, e, n = _geohash_decode(gh)
    return G.to_wkt([[[(w, s), (e, s), (e, n), (w, n)]]])

def _point_from_geohash(gh: str | None) -> str | None:
    """Sedona ST_PointFromGeoHash: the cell's center POINT."""
    if gh is None:
        return None
    w, s, e, n = _geohash_decode(gh)
    return GT.to_wkt(("POINT", [((w + e) / 2.0, (s + n) / 2.0)]))

def _centroid(s: str | None) -> str | None:
    """Area-weighted centroid over all polygons (holes subtract), returned
    as POINT WKT."""
    if s is None:
        return None
    if not _is_areal(s):
        tg = GT.strip_z(GT.parse_wkt(s))
        if tg[0] in ("POLYGON", "MULTIPOLYGON"):
            # POLYGON Z after the strip: fall through to the areal path
            return _centroid(GT.to_wkt(tg))
        # JTS by-dimension centroid: puntal = vertex average, lineal =
        # length-weighted midpoint average (kernel/geomtypes.centroid);
        # GEOMETRYCOLLECTION raises (documented unsupported)
        c = GT.centroid(tg)
    else:
        c = _centroid_areal_val(G.normalize(G.parse_wkt(s)))
    if c is None:
        return None
    # exact shortest-repr formatting (G._fmt), NOT %.10g: truncating to
    # 10 significant digits manufactures values exactly on .5 rounding
    # boundaries, which Spark (HALF_UP) and an oracle computing at full
    # precision then round differently
    return GT.to_wkt(("POINT", [c]))


def _centroid_areal_val(g) -> tuple | None:
    """Area-weighted centroid of a NORMALIZED polygon-kernel geometry
    (outer CCW, holes CW — signed accumulation subtracts holes)."""
    if not g:
        return None
    sa = sx = sy = 0.0
    for poly in g:
        for ring in poly:
            n = len(ring)
            a2 = cx = cy = 0.0
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                cross = x1 * y2 - x2 * y1
                a2 += cross
                cx += (x1 + x2) * cross
                cy += (y1 + y2) * cross
            sa += a2 / 2.0
            sx += cx / 6.0
            sy += cy / 6.0
    if sa == 0:
        return None
    return (sx / sa, sy / sa)

def _area(s: str | None) -> float | None:
    if s is None:
        return None
    if not _is_areal(s):
        # puntal/lineal -> 0 (JTS); POLYGON Z -> planar area of the 2D
        # projection; GEOMETRYCOLLECTION -> sum over members (JTS)
        return GT.area_of(GT.strip_z(GT.parse_wkt(s)))
    return G.area(G.parse_wkt(s))

# ------------------------------------------------ name-parity batch (r8)

def _nrings(s: str | None) -> int | None:
    """PostGIS ST_NRings: total ring count of areal geometry (outers +
    holes, summed over a multi); 0 for lower-dimension input."""
    if s is None:
        return None
    if _is_areal(s):
        return sum(len(poly) for poly in G.parse_wkt(s))
    kind, data = GT.strip_z(GT.parse_wkt(s))
    if kind in ("POLYGON", "MULTIPOLYGON"):
        return sum(len(poly) for poly in data)
    if kind == "GEOMETRYCOLLECTION":
        return sum(_nrings(GT.to_wkt(m)) for m in data)
    return 0


def _point_z(x: float | None, y: float | None,
             z: float | None) -> str | None:
    """Sedona ST_PointZ constructor."""
    if x is None or y is None or z is None:
        return None
    return GT.to_wkt(("POINT Z", [(float(x), float(y), float(z))]))


def _as_ewkt(s: str | None) -> str | None:
    """PostGIS ST_AsEWKT: canonical WKT, preserving the 'SRID=n;' EWKT
    prefix when the value carries one (r9: ST_SetSRID emits that text
    carriage; SRID-less geometry prints with no prefix — exactly
    PostGIS's output either way)."""
    if s is None:
        return None
    t = s.lstrip()
    if t[:5].upper() == "SRID=":
        semi = t.find(";")
        if semi == -1:
            raise G.GeomError("EWKT with SRID= but no ';'")
        try:
            n = int(t[5:semi])
        except ValueError:
            raise G.GeomError(f"bad SRID {t[5:semi]!r}") from None
        return f"SRID={n};" + _geom_from_wkt(t[semi + 1:])
    return _geom_from_wkt(s)


def _geom_from_ewkt(s: str | None) -> str | None:
    """PostGIS ST_GeomFromEWKT: accept an optional 'SRID=n;' prefix (the
    declared SRID is noted and dropped — geometry values are SRID-less
    here) and parse the remainder as WKT."""
    if s is None:
        return None
    t = s.lstrip()
    if t[:5].upper() == "SRID=":
        semi = t.find(";")
        if semi == -1:
            raise G.GeomError("EWKT with SRID= but no ';'")
        t = t[semi + 1:]
    return _geom_from_wkt(t)


def _dump_points(s: str | None) -> list | None:
    """PostGIS ST_DumpPoints (geometry array form): every vertex as a
    POINT, in storage order; areal rings include their closing duplicate
    (PostGIS dumps the closed ring — a rect yields 5 points)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    pts: list = []

    def walk(kind, data):
        base = GT.basekind(kind)
        if base == "GEOMETRYCOLLECTION":
            for m in data:
                walk(m[0], m[1])
            return
        if base in ("POLYGON", "MULTIPOLYGON"):
            for poly in data:
                for ring in poly:
                    for p in list(ring) + ([ring[0]] if ring else []):
                        pts.append(p)
            return
        if base in ("LINESTRING", "MULTILINESTRING"):
            for path in data:
                pts.extend(path)
            return
        pts.extend(data)

    walk(kind, data)
    return [GT.to_wkt(("POINT Z" if len(p) == 3 else "POINT", [p]))
            for p in pts]


def _make_envelope(x1, y1, x2, y2) -> str | None:
    """PostGIS ST_MakeEnvelope (SRID-less form): the CCW rectangle."""
    if x1 is None or y1 is None or x2 is None or y2 is None:
        return None
    x1, y1, x2, y2 = float(x1), float(y1), float(x2), float(y2)
    if x1 > x2 or y1 > y2:
        raise G.GeomError("ST_MakeEnvelope: min corner above max corner")
    if x1 == x2 and y1 == y2:
        return GT.to_wkt(("POINT", [(x1, y1)]))
    if x1 == x2 or y1 == y2:
        return GT.to_wkt(("LINESTRING", [[(x1, y1), (x2, y2)]]))
    return G.to_wkt([[[(x1, y1), (x2, y1), (x2, y2), (x1, y2)]]])


def _unary_union(s: str | None) -> str | None:
    """PostGIS ST_UnaryUnion: dissolve a single geometry's own
    components — self-overlapping multipolygon members merge (the
    even-odd banded sweep over the member set). Puntal/lineal input
    canonicalizes (their self-union is themselves here — the engine's
    lineal kernel does not node line-on-line overlaps, documented)."""
    if s is None:
        return None
    if not _is_areal(s):
        kind, data = GT.strip_z(GT.parse_wkt(s))
        if kind in ("POLYGON", "MULTIPOLYGON"):
            return _unary_union(G.to_wkt(data))
        if kind == "GEOMETRYCOLLECTION":
            parts = [_unary_union(GT.to_wkt(m)) for m in data]
            areal = [p for p in parts if p is not None
                     and not p.endswith("EMPTY") and _is_areal(p)]
            rest = [p for p in parts if p is not None
                    and not p.endswith("EMPTY") and not _is_areal(p)]
            if not areal:
                return GT.to_wkt((kind, data))
            merged = _union_wkt_list(areal)
            if not rest:
                return merged
            # PostGIS preserves lower-dimension members: emit a collection
            # of the areal union (multipolygon flattened to POLYGON
            # members) plus the canonicalized lineal/puntal parts.
            members = []
            mk, md = GT.parse_wkt(merged)
            if GT.basekind(mk) == "MULTIPOLYGON":
                members.extend(("POLYGON", [poly]) for poly in md)
            else:
                members.append((mk, md))
            members.extend(GT.parse_wkt(p) for p in rest)
            return GT.to_wkt(("GEOMETRYCOLLECTION", members))
        return GT.to_wkt((kind, data))
    g = G.normalize(G.parse_wkt(s))
    if not g:
        return "POLYGON EMPTY"
    if len(g) == 1:
        return G.to_wkt(g)
    return G.to_wkt(B.union_geom([[poly] for poly in g]))


def _crosses_dateline(s: str | None) -> bool | None:
    """Sedona ST_CrossesDateLine: any edge spanning more than 180° of
    longitude (the antimeridian-wrap heuristic Sedona applies to
    EPSG:4326 coordinates)."""
    if s is None:
        return None
    tg = GT.strip_z(GT.parse_wkt(s))
    return any(abs(x2 - x1) > 180.0
               for (x1, _, x2, _) in GT.segments_of(tg))


def _shift_longitude(s: str | None) -> str | None:
    """PostGIS/Sedona ST_ShiftLongitude: longitudes in [-180, 0) shift
    to [180, 360) — the dateline-unwrapping transform."""
    if s is None:
        return None
    return GT.to_wkt(GT.map_coords(
        GT.parse_wkt(s), lambda x, y: (x + 360.0 if x < 0 else x, y)))


def _best_srid(s: str | None) -> int | None:
    """Sedona ST_BestSRID: the UTM zone EPSG of the geometry's envelope
    center (326xx north / 327xx south), with the polar fallbacks UPS
    North 32661 (lat >= 84) and UPS South 32761 (lat <= -80) — the
    documented Sedona rule, minus its wide-geometry Mercator fallback."""
    if s is None:
        return None
    pts = GT.points_of(GT.strip_z(GT.parse_wkt(s)))
    if not pts:
        return None
    xs = [p[0] for p in pts]
    ys = [p[1] for p in pts]
    lon = (min(xs) + max(xs)) / 2.0
    lat = (min(ys) + max(ys)) / 2.0
    if lat >= 84.0:
        return 32661
    if lat <= -80.0:
        return 32761
    zone = min(60, max(1, int((lon + 180.0) // 6.0) + 1))
    return (32600 if lat >= 0 else 32700) + zone


def _lineal_to_polygon(s: str | None, name: str) -> str | None:
    """Shared core of ST_Polygon / ST_MakePolygon: a CLOSED LINESTRING
    becomes the polygon it outlines."""
    if s is None:
        return None
    kind, data = GT.strip_z(GT.parse_wkt(s))
    if kind != "LINESTRING" or not data:
        raise G.GeomError(f"{name} takes a closed LINESTRING")
    path = data[0]
    if path[0] != path[-1]:
        raise G.GeomError(f"{name}: shell is not closed")
    ring = path[:-1]
    if len(ring) < 3:
        raise G.GeomError(f"{name}: shell has <3 distinct points")
    return G.to_wkt(G.normalize([[ring]]))


def _length_spheroid(s: str | None) -> float | None:
    """PostGIS ST_LengthSpheroid (WGS84): segment-wise Vincenty sum —
    path length for lineal input, ring perimeter for areal (matching
    this engine's ST_Length convention), 0 for puntal. Near-antipodal
    segments fall back to the haversine sphere (same documented boundary
    as ST_DistanceSpheroid)."""
    import math

    if s is None:
        return None
    tg = GT.strip_z(GT.parse_wkt(s))
    kind = GT.basekind(tg[0])
    if kind in ("POINT", "MULTIPOINT"):
        return 0.0
    total = 0.0
    # segments_of: consecutive path pairs for lineal, wrapped (closing
    # edge included) rings for areal — exactly the ST_Length convention
    for (x1, y1, x2, y2) in GT.segments_of(tg):
        d = _vincenty_m(x1, y1, x2, y2)
        if d is None:
            d = _distance_sphere(f"POINT ({x1} {y1})",
                                 f"POINT ({x2} {y2})")
        total += d
    return total


def _mm_minmax(s: str | None) -> float | None:
    """PostGIS ST_MMin/ST_MMax: the engine rejects M coordinates at
    parse time (kernel/geomtypes.py), so a parseable geometry never has
    an M range — NULL, PostGIS's own answer for M-less geometry."""
    if s is None:
        return None
    GT.parse_wkt(s)  # still validate the input
    return None


def _subdivide_explode(s: str | None, max_vertices: int) -> list | None:
    """Sedona ST_SubDivideExplode as an array-returning scalar (callers
    explode() it): the ST_Subdivide pieces as individual POLYGON WKTs."""
    if s is None:
        return None
    out = _subdivide(s, max_vertices)
    kind, data = GT.parse_wkt(out)
    if kind == "GEOMETRYCOLLECTION":
        return [GT.to_wkt(m) for m in data]
    if GT.basekind(kind) in ("POLYGON", "MULTIPOLYGON"):
        return [G.to_wkt([poly]) for poly in data]
    return [GT.to_wkt((kind, data))]


def _generate_points(s: str | None, n: int,
                     seed: int = 0) -> str | None:
    """Sedona ST_GeneratePoints(geom, n[, seed]): n uniform random
    points inside the areal geometry, as MULTIPOINT. Deterministic for a
    given (geometry, n, seed): rejection sampling from the envelope with
    Python's seeded Mersenne generator — the SAME bytes on every
    executor and every run (the engine-defined RNG; Sedona's own stream
    differs, so cross-engine value parity is out of scope by design —
    count and containment are the testable contract)."""
    import random

    if s is None:
        return None
    n = int(n)
    if n <= 0:
        return "MULTIPOINT EMPTY"
    if _is_areal(s):
        g = G.normalize(G.parse_wkt(s))
    else:
        kind, data = GT.strip_z(GT.parse_wkt(s))
        if GT.basekind(kind) not in ("POLYGON", "MULTIPOLYGON"):
            raise G.GeomError("ST_GeneratePoints takes areal input")
        g = G.normalize(data)
    if not g:
        return "MULTIPOINT EMPTY"
    x1, y1, x2, y2 = G.bounds(g)
    rng = random.Random((int(seed) * 1000003) ^ n)
    pts = []
    guard = 0
    while len(pts) < n and guard < n * 10000:
        guard += 1
        px = rng.uniform(x1, x2)
        py = rng.uniform(y1, y2)
        if any(GT.point_in_polygon(px, py, [poly]) for poly in g):
            pts.append((px, py))
    if len(pts) < n:
        raise G.GeomError(
            "ST_GeneratePoints: rejection sampling starved (zero-area "
            "or sliver geometry)")
    return _force_multi_wkt("MULTIPOINT", "", pts)


def _line_merge(s: str | None) -> str | None:
    """PostGIS/JTS ST_LineMerge: stitch a MULTILINESTRING's paths
    together at nodes where exactly two path ends meet (degree-2 nodes;
    higher-degree junctions stay split — the JTS LineMerger rule).
    LINESTRING input canonicalizes; non-lineal input raises."""
    if s is None:
        return None
    kind, data = GT.strip_z(GT.parse_wkt(s))
    if kind == "LINESTRING":
        return GT.to_wkt((kind, data))
    if kind != "MULTILINESTRING":
        raise G.GeomError("ST_LineMerge takes lineal input")
    paths: list = [list(p) for p in data]
    merged = True
    while merged:
        merged = False
        ends: dict = {}
        for i, p in enumerate(paths):
            if p is None:
                continue
            for endpt in (p[0], p[-1]):
                ends.setdefault(endpt, []).append(i)
        for pt, idxs in ends.items():
            inc: list = []
            for i in set(idxs):
                if paths[i][0] == pt:
                    inc.append(i)
                if paths[i][-1] == pt:
                    inc.append(i)
            if len(inc) == 2 and inc[0] != inc[1]:
                a, b = inc
                pa, pb = paths[a], paths[b]
                if pa[-1] != pt:
                    pa = pa[::-1]
                if pb[0] != pt:
                    pb = pb[::-1]
                paths[a] = pa + pb[1:]
                paths[b] = None
                merged = True
                break
    out = [p for p in paths if p]
    return GT.to_wkt(("MULTILINESTRING", out))


def _triangulate_polygon(s: str | None) -> str | None:
    """PostGIS/Sedona ST_TriangulatePolygon: ear-clipping triangulation
    of each simple (hole-free) polygon, returned as a
    GEOMETRYCOLLECTION of triangles. A simple CCW ring always has an ear
    (the two-ears theorem), so the clip loop terminates with exactly
    n−2 triangles whose areas sum to the polygon's. Holes raise the
    documented GeomError (constrained Delaunay is out of scope)."""
    if s is None:
        return None
    g = G.normalize(G.parse_wkt(s)) if _is_areal(s) else None
    if g is None:
        kind, data = GT.strip_z(GT.parse_wkt(s))
        if GT.basekind(kind) not in ("POLYGON", "MULTIPOLYGON"):
            raise G.GeomError("ST_TriangulatePolygon takes areal input")
        g = G.normalize(data)
    tris: list = []
    for poly in g:
        if len(poly) > 1:
            raise G.GeomError(
                "ST_TriangulatePolygon does not support holes")
        tris.extend(_ear_clip(list(poly[0])))
    if not tris:
        return "GEOMETRYCOLLECTION EMPTY"
    return GT.to_wkt(("GEOMETRYCOLLECTION",
                      [("POLYGON", [[t]]) for t in tris]))


def _ear_clip(ring: list) -> list:
    """Ears of a CCW simple ring, clipped until a triangle remains."""

    def cross(a, b, c):
        return ((b[0] - a[0]) * (c[1] - a[1])
                - (b[1] - a[1]) * (c[0] - a[0]))

    def inside(p, a, b, c):
        # strict interior or on an edge of triangle abc (CCW)
        return (cross(a, b, p) >= 0 and cross(b, c, p) >= 0
                and cross(c, a, p) >= 0)

    out: list = []
    r = list(ring)
    guard = 0
    while len(r) > 3 and guard < len(ring) * len(ring) + 16:
        guard += 1
        n = len(r)
        clipped = False
        for i in range(n):
            a, b, c = r[i - 1], r[i], r[(i + 1) % n]
            if cross(a, b, c) <= 0:
                continue  # reflex or collinear — not an ear
            if any(inside(p, a, b, c) for j, p in enumerate(r)
                   if p not in (a, b, c)):
                continue
            out.append([a, b, c])
            del r[i]
            clipped = True
            break
        if not clipped:
            # all remaining vertices collinear/degenerate — drop one
            r.pop()
    if len(r) == 3 and cross(r[0], r[1], r[2]) != 0:
        out.append(r)
    return out


# ------------------------------------------------------------------- lanes
#
# The lanes and row kernels of functions/table.ROWS, which builds every
# registered UDF; below them, the UDFs a row cannot express.

# Vectorized rect fast path for the unary hygiene lanes. A row whose
# POLY5 extract is the canonical CCW walk (lanes._poly5_walks) is
# PROVABLY a fixed point of parse→normalize→to_wkt (and of make_valid,
# and of buffer(0)):
#   - integer-text coordinates of at most 7 digits, no leading zeros or
#     plus (lanes._I), so float(t) is exact and _fmt(float(t)) == t;
#   - the group equalities force the exact closed CCW rect vertex walk
#     (A B, C B, C D, A D, A B): parse yields 5 points, dedupe drops only
#     the closing duplicate, signed area (C-A)(D-B) > 0 keeps CCW, a rect
#     has no self-intersections, and to_wkt re-emits the identical text.
# Rows that match pass through untouched; everything else takes the
# general kernel path. This is the string-level analog of dissolve.py's
# JVM rect fast path — the hygiene stage of the verbatim-parity chain
# drops from ~3 full Python parse+serialize cycles per parcel to one
# shared RE2 extract per batch.
def _rect_fixed_mask(s: pd.Series) -> np.ndarray:
    """True where the WKT is proven a fixed point of the hygiene chain."""
    return LN._poly5_walks(LN.batch_of(s))[1]

def _unary_hygiene(s: pd.Series, scalar_fn, mask=None) -> pd.Series:
    if mask is None:
        mask = _rect_fixed_mask(s)
    if mask.all():
        return s.copy()
    out = s.copy()
    slow = ~mask
    out[slow] = s[slow].map(scalar_fn, na_action="ignore")
    return out

# r9: canonical-puntal/lineal fixed points of parse→to_wkt, same premise
# as _rect_fixed_mask (small-integer text round-trips float exactly; the
# lanes spellings ARE to_wkt's emission — single-member multis are
# EXCLUDED because parse collapses them to the member kind; repeated /
# unsorted / duplicate members all re-emit verbatim, property-pinned by
# tests/test_chainrw.py::test_nonareal_fixed_mask_is_identity). Valid
# ONLY for identity hygiene (ST_GeomFromWKT, non-areal ST_MakeValid) —
# NOT for buffer(0), which maps puntal/lineal input to POLYGON EMPTY.
def _nonareal_fixed_mask(s: pd.Series) -> np.ndarray:
    b = LN.batch_of(s)
    return (b.match(LN.POINT2) | b.match(LN.LINE_INTS)
            | b.match(LN.MPOINT) | b.match(LN.MLS_INTS))

def _identity_hygiene(s: pd.Series, scalar_fn) -> pd.Series:
    return _unary_hygiene(
        s, scalar_fn, _nonareal_fixed_mask(s) | _rect_fixed_mask(s))

def _buffer_hygiene(s: pd.Series, d: pd.Series, scalar_fn) -> pd.Series:
    """buffer(0) is the topology rinse: the same fixed-point fast path as
    the other hygiene lanes. Nonzero offsets always take the kernel, so a
    batch without a zero offset skips the extract."""
    mask = (pd.to_numeric(d, errors="coerce") == 0).to_numpy()
    if mask.any():
        mask &= _rect_fixed_mask(s)
    out = s.copy()
    slow = ~mask
    if slow.any():
        out[slow] = pd.Series(
            [scalar_fn(g, x) for g, x in zip(s[slow], d[slow])],
            index=s.index[slow],
        )
    return out

def _dwithin(a: str, b: str, d) -> bool | None:
    """Sedona ST_DWithin(a, b, d): distance(a, b) <= d. Shares _distance,
    so every type pair the typed kernel supports works here."""
    dist = _distance(a, b)
    return None if dist is None else bool(dist <= float(d))

def _as_binary(w: str) -> bytes:
    """ST_AsBinary: canonical little-endian ISO WKB of any WKT type
    (kernel/geomtypes.to_wkb)."""
    return GT.to_wkb(GT.parse_wkt(w))

def _geom_from_wkb(buf) -> str:
    """ST_GeomFromWKB: parse ISO WKB (either byte order) back to the
    engine's canonical WKT carrier."""
    return GT.to_wkt(GT.parse_wkb(bytes(buf)))

def _clipped_area(a: str, b: str) -> float:
    """Fused area(intersection(a, b)) — one boundary crossing instead of two
    (SURVEY.md §4.3 expression fusion)."""
    return G.area(G.parse_wkt(_intersection(a, b)))

def _rect_bounds_series(s: pd.Series):
    """(mask, x1, y1, x2, y2) for rows that are PROVABLY canonical rects
    (the _rect_fixed_mask contract: small-integer text, closed CCW walk,
    so parsing is exact)."""
    g, ccw, _, _ = LN._poly5_walks(LN.batch_of(s))
    return (ccw, *(LN._num(g, i) for i in (0, 1, 2, 5)))

def _pair_law(a_bounds, b_bounds, law, row_fn) -> np.ndarray:
    """One DE-9IM predicate over a batch of pairs. Each side's bounds are
    (mask, x1, y1, x2, y2) with mask marking rows whose bounds ARE the
    geometry; where both sides are marked, the interval law decides the
    whole batch at once, and every other row i is row_fn(i). Shared by
    the text (_rect_pair_predicate) and binary (geomb) surfaces."""
    ma, *ab = a_bounds
    mb, *bb = b_bounds
    both = ma & mb
    out = np.full(len(ma), None, dtype=object)
    if both.any():
        out[both] = law(*ab, *bb)[both]
    for i in np.flatnonzero(~both):
        out[i] = row_fn(i)
    return out

def _rect_pair_predicate(a: pd.Series, b: pd.Series, scalar_fn, law
                         ) -> pd.Series:
    """Vectorized rect×rect lane of the DE-9IM predicates:
    where BOTH sides are canonical rects the predicate is pure interval
    arithmetic over the whole Arrow batch (the closed forms pinned
    against the scalar path by test_prop_rect_predicates_interval_law);
    every other row takes the scalar kernel. On the bbox-shaped data a
    100 TB pre-filter stage actually carries, no row pays a WKT parse."""
    av, bv = a.tolist(), b.tolist()
    out = _pair_law(_rect_bounds_series(a), _rect_bounds_series(b), law,
                    lambda i: scalar_fn(av[i], bv[i]))
    return pd.Series(out, index=a.index, dtype="object")

# DE-9IM interval laws over (a bounds, b bounds), exact for rect×rect.
# Only intersects / disjoint / equals / contains / within also hold for
# degenerate (point) boxes; see geomb's box_bounds_np lane.
def _law_intersects(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    return ((ax1 <= bx2) & (bx1 <= ax2) & (ay1 <= by2) & (by1 <= ay2))

def _law_strict(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    return ((ax1 < bx2) & (bx1 < ax2) & (ay1 < by2) & (by1 < ay2))

def _law_disjoint(*bb):
    return ~_law_intersects(*bb)

def _law_touches(*bb):
    return _law_intersects(*bb) & ~_law_strict(*bb)

def _law_contains(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Closed-interval cover. The ENGINE's ST_Contains is covers
    semantics — boundary-touching counts as contained, the documented
    choice of _contains — so the closed law is exact for every box
    combination, including degenerate point boxes (a point on ∂A IS
    covered; two points contain each other iff equal, which the closed
    law reduces to)."""
    return (ax1 <= bx1) & (bx2 <= ax2) & (ay1 <= by1) & (by2 <= ay2)

def _law_within(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    return _law_contains(bx1, by1, bx2, by2, ax1, ay1, ax2, ay2)

def _law_overlaps(*bb):
    return _law_strict(*bb) & ~_law_within(*bb) & ~_law_contains(*bb)

def _law_equals(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    return (ax1 == bx1) & (ay1 == by1) & (ax2 == bx2) & (ay2 == by2)

def _law_crosses(ax1, *_):
    # areal×areal crosses is false by definition (DE-9IM dimension rule)
    return np.zeros(len(np.atleast_1d(ax1)), dtype=bool)

def _disjoint(x, y):
    v = _intersects(x, y)
    return None if v is None else not v

def _point(x, y) -> str:
    """ST_Point / ST_MakePoint: POINT WKT from coordinate doubles through
    the kernel's canonical formatter."""
    return f"POINT ({G._fmt(float(x))} {G._fmt(float(y))})"

def _geohash_vec_int(lon, lat, precision: int):
    """Vectorized geohash for integer-valued coordinates: the quantization
    ((lon+180)·2^nlon)//360 is EXACT in int64 (no float rounding), and the
    bisection provably equals it (test_prop_geohash_matches_integer_
    quantization), so this fast path is bit-identical to the scalar
    algorithm. ~60 numpy ops per batch instead of 5·p Python-loop steps
    per row."""
    nbits = 5 * precision
    nlon = (nbits + 1) // 2
    nlat = nbits // 2
    lonq = ((lon.astype(np.int64) + 180) << nlon) // 360
    latq = ((lat.astype(np.int64) + 90) << nlat) // 180
    np.clip(lonq, 0, (1 << nlon) - 1, out=lonq)
    np.clip(latq, 0, (1 << nlat) - 1, out=latq)
    n = np.zeros(len(lonq), dtype=np.int64)
    li, ti = nlon - 1, nlat - 1
    for i in range(nbits):
        if i % 2 == 0:
            n = (n << 1) | ((lonq >> li) & 1)
            li -= 1
        else:
            n = (n << 1) | ((latq >> ti) & 1)
            ti -= 1
    chars = np.frombuffer(_GEOHASH32.encode(), dtype="S1")
    out = chars[(n >> (5 * (precision - 1))) & 31].astype("U1")
    for k in range(1, precision):
        out = np.char.add(out,
                          chars[(n >> (5 * (precision - 1 - k))) & 31]
                          .astype("U1"))
    return out

def _geohash_lane(s: pd.Series, p: pd.Series, scalar_fn) -> pd.Series:
    """Integer-coordinate POINT WKT (lanes.POINT2) with one precision per
    batch (the common bucketing shape): exact int64 quantization, no
    per-row parse or bisection. Every other row takes the kernel."""
    pp = pd.to_numeric(p, errors="coerce")
    prec = pp.dropna().unique()
    out = np.full(len(s), None, dtype=object)
    mask = np.zeros(len(s), bool)
    if len(prec) == 1 and 1 <= int(prec[0]) <= 12:
        m, g = LN.batch_of(s).extract(LN.POINT2)
        lon, lat = LN._num(g, 0), LN._num(g, 1)
        mask = (m & pp.notna().to_numpy() & (np.abs(lon) <= 180)
                & (np.abs(lat) <= 90))
        if mask.any():
            out[mask] = _geohash_vec_int(lon[mask], lat[mask],
                                         int(prec[0]))
    for i in np.flatnonzero(~mask):
        g, kk = s.iat[i], pp.iat[i]
        out[i] = None if g is None or pd.isna(kk) else scalar_fn(g, int(kk))
    return pd.Series(out, index=s.index)

def _make_line(a: str, b: str) -> str | None:
    """ST_MakeLine(pointA, pointB): the 2-vertex LINESTRING; NULL for
    non-point or EMPTY input."""
    ka, da = GT.parse_wkt(a)
    kb, db = GT.parse_wkt(b)
    if ka != "POINT" or kb != "POINT" or not da or not db:
        return None
    return GT.to_wkt(("LINESTRING", [[da[0], db[0]]]))

def _normalize_full(s: str | None) -> str | None:
    """ST_Normalize (PostGIS semantics): the engine's canonical form
    (outer CCW, holes CW, deduped vertices, collapsed single-member
    multis) PLUS each ring rotated to start at its lexicographically
    least vertex — so any winding/rotation of the same polygon
    normalizes to one identical text."""
    if s is None:
        return None
    if not _is_areal(s):
        return _geom_from_wkt(s)
    g = G.normalize(G.parse_wkt(s))

    def rot(ring):
        i = min(range(len(ring)), key=lambda k: ring[k])
        return ring[i:] + ring[:i]

    return G.to_wkt([[rot(r) for r in poly] for poly in g])

def _dump(w: str) -> list:
    """ST_Dump: the members of a multi-geometry as individual WKT strings
    (a singular geometry dumps to itself, EMPTY to no members;
    GEOMETRYCOLLECTION members dump recursively to atomic geometries —
    the PostGIS convention). Pair with posexplode for the (path, geom)
    rows PostGIS emits."""
    def dump_tg(tg):
        kind, data = tg
        base = GT.basekind(kind)
        if base == "GEOMETRYCOLLECTION":
            return [w for m in data for w in dump_tg(m)]
        if base in ("POINT", "LINESTRING", "POLYGON"):
            return [GT.to_wkt((kind, data))] if data else []
        member = {"MULTIPOINT": "POINT", "MULTILINESTRING": "LINESTRING",
                  "MULTIPOLYGON": "POLYGON"}[base]
        if kind.endswith(" Z"):
            member += " Z"
        return [GT.to_wkt((member, [m])) for m in data]

    return dump_tg(GT.parse_wkt(w))

def _segmentize_npoints(s: str, m: float) -> int | None:
    """ST_SegmentizeNPoints' kernel: the literal composition."""
    seg = _segmentize(s, m)
    return None if seg is None else _npoints(seg)

# ----------------------------------------- UDFs a table row cannot express

@pandas_udf(StructType([StructField("n_kept", LongType()),
                        StructField("length", DoubleType())]))
def st_simplifyline(xs: pd.Series, ys: pd.Series, tol: pd.Series) -> pd.DataFrame:
    """Douglas–Peucker over coordinate arrays; returns the kept-vertex
    count and the simplified polyline's length. Array-columns in, struct
    out — the Spark-idiomatic shape for per-row variable-length geometry
    (no WKT round-trip on the hot path)."""
    import math
    n_kept, length = [], []
    for x, y, t in zip(xs, ys, tol):
        if x is None or y is None or t is None or t != t:
            n_kept.append(None)
            length.append(None)
            continue
        idx = G.simplify_polyline(list(x), list(y), float(t))
        n_kept.append(len(idx))
        acc = 0.0
        for i in range(1, len(idx)):
            dx = x[idx[i]] - x[idx[i - 1]]
            dy = y[idx[i]] - y[idx[i - 1]]
            acc += math.sqrt(dx * dx + dy * dy)
        length.append(acc)
    return pd.DataFrame({"n_kept": n_kept, "length": length})

@pandas_udf(StringType())
def st_collect_aggr(x: pd.Series, y: pd.Series) -> str:
    """ST_Collect as a grouped aggregate (Series→scalar pandas UDF,
    registerable in SQL GROUP BY like Sedona's ST_Union_Aggr): the
    group's points as a canonical MULTIPOINT, members sorted (x, y) so
    the output is deterministic under any partitioning — the same
    determinism contract as the engine's other geometry aggregates.
    NULL coordinates are dropped (SQL aggregate semantics)."""
    import numpy as np

    xv = pd.to_numeric(x, errors="coerce")
    yv = pd.to_numeric(y, errors="coerce")
    ok = xv.notna() & yv.notna()
    if not ok.any():
        return "POINT EMPTY"
    pts = sorted(zip(xv[ok].astype(float), yv[ok].astype(float)))
    return GT.to_wkt(("MULTIPOINT" if len(pts) != 1 else "POINT",
                      [tuple(p) for p in pts]))

@pandas_udf(StringType())
def st_envelope_aggr(s: pd.Series) -> str:
    """ST_Envelope_Aggr: the bounding box of every geometry in the group
    as a POLYGON (Sedona's grouped envelope). Constant memory per group —
    only 4 floats fold. NULL members are skipped; an all-NULL group is
    the empty polygon."""
    import math

    x1 = y1 = math.inf
    x2 = y2 = -math.inf
    for w in s:
        if w is None:
            continue
        for (x, y) in GT.points_of(GT.parse_wkt(w)):
            x1 = min(x1, x)
            y1 = min(y1, y)
            x2 = max(x2, x)
            y2 = max(y2, y)
    if x1 > x2:
        return "POLYGON EMPTY"
    return G.to_wkt([[[(x1, y1), (x2, y1), (x2, y2), (x1, y2)]]])

# r8 (verdict item 3): the geometry-valued UDAFs fold INCREMENTALLY in
# bounded blocks — a hot-key group streams through the accumulator
# without ever materializing the whole group's parsed geometry list on
# one task. _AGGR_HELD_HIGH_WATER records the largest unmerged list any
# fold held (the skew test pins it <= _AGGR_BLOCK + 1). Spark still
# delivers the full group's *rows* to one task (that is the grouped-agg
# UDF contract); the full two-phase escape for genuinely hot keys is
# salted_union_aggr below — union is associative, so per-(key, salt)
# partials merge exactly.
_AGGR_BLOCK = 64
_AGGR_HELD_HIGH_WATER = 0


def _note_held(n: int) -> None:
    global _AGGR_HELD_HIGH_WATER
    if n > _AGGR_HELD_HIGH_WATER:
        _AGGR_HELD_HIGH_WATER = n


def _fold_union_block(acc, block):
    geoms = ([acc] if acc else []) + block
    _note_held(len(geoms))
    return B.union_geom(geoms) if len(geoms) > 1 else geoms[0]


@pandas_udf(StringType())
def st_union_aggr(s: pd.Series) -> str:
    """ST_Union_Aggr: per-group geometric union of areal WKT through the
    trapezoid-band sweep (order-independent: the banding is a function of
    the geometry SET). Folds in blocks of _AGGR_BLOCK so the task never
    holds more than the running union plus one block of parsed geometry;
    for keys hot enough that even the ROW delivery to one task is the
    bottleneck, use salted_union_aggr (two-phase, associative) or the
    100 TB dissolve path (operators/dissolve.py — numeric partials, never
    geometry rows through the shuffle)."""
    acc = None
    block: list = []
    for w in s:
        if w is None:
            continue
        g = G.normalize(G.parse_wkt(w))
        if not g:
            continue
        block.append(g)
        if len(block) >= _AGGR_BLOCK:
            acc = _fold_union_block(acc, block)
            block = []
    if block:
        acc = _fold_union_block(acc, block)
    return G.to_wkt(acc) if acc else "POLYGON EMPTY"

@pandas_udf(StringType())
def st_intersection_aggr(s: pd.Series) -> str:
    """ST_Intersection_Aggr: per-group intersection of areal WKT, folded
    pairwise through the banded sweep (the point SET is order-independent;
    vertex layout is canonicalized by normalize). Streaming fold: one
    parsed geometry held at a time beyond the accumulator (every member
    still parses, so malformed WKT after an empty accumulator is an error
    on every fold shape)."""
    acc = None
    empty = False
    for w in s:
        if w is None:
            continue
        g = G.normalize(G.parse_wkt(w))
        _note_held(2)
        if not g:
            empty = True
        elif acc is None:
            acc = g
        elif not empty:
            acc = B.intersection_geom(acc, g)
            if not acc:
                empty = True
    if acc is None or empty or not acc:
        return "POLYGON EMPTY"
    return G.to_wkt(G.normalize(acc))


def salted_union_aggr(df, keys, geom_col: str, out_col: str = "union_geom",
                      buckets: int = 16):
    """Two-phase salted ST_Union_Aggr plan: geometric union is associative
    and commutative, so the union of per-(key, salt) partial unions IS the
    group union — no single task ever aggregates more than ~1/buckets of a
    hot key's rows (the same decomposition operators/dissolve.py proves
    for the numeric dissolve). Phase 1 shuffles on (keys…, salt), phase 2
    on keys… with at most `buckets` partial geometries per group."""
    from pyspark.sql import functions as F

    salt = (F.pmod(F.xxhash64(geom_col), F.lit(buckets))).alias("__salt")
    partial = (df.select(*keys, geom_col, salt)
               .groupBy(*keys, "__salt")
               .agg(st_union_aggr(F.col(geom_col)).alias("__partial")))
    return (partial.groupBy(*keys)
            .agg(st_union_aggr(F.col("__partial")).alias(out_col)))

def udf_table() -> dict:
    """Every SQL name the engine registers -> its UDF, one row per
    function in functions/table.ROWS. register_spatial_functions
    registers exactly this table and chainrw's projection fuser resolves
    names through it, so a name that resolves in SQL is always one the
    fuser can see."""
    from .table import udf_table

    return udf_table()


def register_spatial_functions(spark: SparkSession) -> None:
    """Name-parity registration so F.expr("ST_Area(g)") etc. resolve —
    the engine's stand-in for SedonaSqlExtensions
    (reference airflow_dag/dag_geo_pipeline.py:20)."""
    if getattr(spark, "_spark_graft_st_registered", False):
        # ~200 names × one py4j round trip each ≈ 0.5–1 s of driver time;
        # every registry query calls this, so make repeat calls free
        # (a fresh SparkSession is a fresh object — it re-registers)
        return
    for name, fn in udf_table().items():
        spark.udf.register(name, fn)
    spark._spark_graft_st_registered = True
