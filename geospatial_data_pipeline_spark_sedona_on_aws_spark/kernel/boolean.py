"""General polygon boolean operations — the phase-2 kernel core
(SURVEY.md §7): intersection / union of arbitrary polygons (non-convex,
holes, multipolygons; even-odd fill rule), replacing Sedona's JTS overlay
for the reference's ST_Intersection / ST_Union_Aggr semantics
(reference spark_job/process_geodata.py:113,127-130).

Method: banded trapezoid sweep. Split the y-range at every *critical y*
(ring vertex ys plus every pairwise edge-crossing y, across all input
geometries). Inside one band no two edges cross, so each geometry's
coverage is a fixed-order set of trapezoids (pair up the band's active
edges left-to-right; even-odd). Boolean ops then reduce to 1D interval
algebra per band:

    intersection  = pairwise [max(lo), min(hi)] of the two interval lists
    union         = 1D interval union of all lists

and each surviving interval contributes an exact trapezoid (its sides are
the original edges' line equations). Areas integrate in closed form;
geometry output is the trapezoid decomposition itself (valid, disjoint,
possibly more vertices than the minimal result — a representation choice,
not an approximation).

Robustness posture: no constructed intersection points feed back into the
sweep (bands are cut at *parameter* ys computed once), so there is no
cascading of rounding error; degenerate bands (zero height) and horizontal
edges fall out naturally.
"""

from __future__ import annotations

from .geom import GeomError  # noqa: F401  (re-exported for callers)

_EPS = 1e-12

def _edges(geom: list) -> list[tuple[float, float, float, float]]:
    """All ring edges of a geometry as (x1, y1, x2, y2), skipping horizontal
    ones (they never cross a band midline; their coverage contribution is
    captured by the vertex ys they span)."""
    out = []
    for poly in geom:
        for ring in poly:
            n = len(ring)
            for i in range(n):
                (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % n]
                if y1 != y2:
                    out.append((x1, y1, x2, y2))
    return out

def _x_at(e: tuple[float, float, float, float], y: float) -> float:
    x1, y1, x2, y2 = e
    t = (y - y1) / (y2 - y1)
    return x1 + t * (x2 - x1)

def _critical_ys(edge_lists: list[list]) -> list[float]:
    ys: set[float] = set()
    all_edges = []
    for edges in edge_lists:
        for e in edges:
            ys.add(e[1])
            ys.add(e[3])
            all_edges.append(e)
    # pairwise crossings (across all geometries) — O(E²), fine at per-row
    # polygon sizes; the distributed operators keep rows small by design
    m = len(all_edges)
    for i in range(m):
        ax1, ay1, ax2, ay2 = all_edges[i]
        for j in range(i + 1, m):
            bx1, by1, bx2, by2 = all_edges[j]
            d1x, d1y = ax2 - ax1, ay2 - ay1
            d2x, d2y = bx2 - bx1, by2 - by1
            den = d1x * d2y - d1y * d2x
            if den == 0:
                continue
            t = ((bx1 - ax1) * d2y - (by1 - ay1) * d2x) / den
            u = ((bx1 - ax1) * d1y - (by1 - ay1) * d1x) / den
            if -_EPS < t < 1 + _EPS and -_EPS < u < 1 + _EPS:
                ys.add(ay1 + t * d1y)
    return sorted(ys)

def _band_intervals(edges: list, y_lo: float, y_hi: float):
    """Coverage of one geometry inside a band as interval pairs of edges,
    sorted left-to-right at the band midline (even-odd pairing)."""
    ym = (y_lo + y_hi) / 2.0
    active = [e for e in edges if min(e[1], e[3]) < ym < max(e[1], e[3])]
    active.sort(key=lambda e: _x_at(e, ym))
    return [(active[i], active[i + 1]) for i in range(0, len(active) - 1, 2)]

def _trap_area(lo, hi, y_lo: float, y_hi: float) -> float:
    w0 = _x_at(hi, y_lo) - _x_at(lo, y_lo)
    w1 = _x_at(hi, y_hi) - _x_at(lo, y_hi)
    return (max(w0, 0.0) + max(w1, 0.0)) / 2.0 * (y_hi - y_lo)

def _trap_poly(lo, hi, y_lo: float, y_hi: float):
    xl0, xh0 = _x_at(lo, y_lo), _x_at(hi, y_lo)
    xl1, xh1 = _x_at(lo, y_hi), _x_at(hi, y_hi)
    pts = []
    if xh0 - xl0 > _EPS:
        pts += [(xl0, y_lo), (xh0, y_lo)]
    else:
        pts += [((xl0 + xh0) / 2.0, y_lo)]
    if xh1 - xl1 > _EPS:
        pts += [(xh1, y_hi), (xl1, y_hi)]
    else:
        pts += [((xl1 + xh1) / 2.0, y_hi)]
    return [pts] if len(pts) >= 3 else None

def intersection_traps(ga: list, gb: list):
    """Yield (lo_edge, hi_edge, y_lo, y_hi) trapezoids of ga ∩ gb."""
    ea, eb = _edges(ga), _edges(gb)
    if not ea or not eb:
        return
    ys = _critical_ys([ea, eb])
    for y_lo, y_hi in zip(ys, ys[1:]):
        if y_hi - y_lo <= _EPS:
            continue
        ym = (y_lo + y_hi) / 2.0
        ia = _band_intervals(ea, y_lo, y_hi)
        ib = _band_intervals(eb, y_lo, y_hi)
        for la, ha in ia:
            for lb, hb in ib:
                lo = la if _x_at(la, ym) >= _x_at(lb, ym) else lb
                hi = ha if _x_at(ha, ym) <= _x_at(hb, ym) else hb
                if _x_at(lo, ym) < _x_at(hi, ym):
                    yield lo, hi, y_lo, y_hi

def union_traps(geoms: list[list]):
    """Yield trapezoids of the union of N geometries (1D interval union per
    band, edges compared at the band midline)."""
    per_geom = [_edges(g) for g in geoms if g]
    per_geom = [e for e in per_geom if e]
    if not per_geom:
        return
    ys = _critical_ys(per_geom)
    for y_lo, y_hi in zip(ys, ys[1:]):
        if y_hi - y_lo <= _EPS:
            continue
        ym = (y_lo + y_hi) / 2.0
        ivs = []
        for edges in per_geom:
            ivs.extend(_band_intervals(edges, y_lo, y_hi))
        if not ivs:
            continue
        ivs.sort(key=lambda iv: _x_at(iv[0], ym))
        cur_lo, cur_hi = ivs[0]
        for lo, hi in ivs[1:]:
            if _x_at(lo, ym) <= _x_at(cur_hi, ym):
                if _x_at(hi, ym) > _x_at(cur_hi, ym):
                    cur_hi = hi
            else:
                yield cur_lo, cur_hi, y_lo, y_hi
                cur_lo, cur_hi = lo, hi
        yield cur_lo, cur_hi, y_lo, y_hi

def intersection_area(ga: list, gb: list) -> float:
    return sum(_trap_area(lo, hi, y0, y1)
               for lo, hi, y0, y1 in intersection_traps(ga, gb))

def union_area(geoms: list[list]) -> float:
    return sum(_trap_area(lo, hi, y0, y1)
               for lo, hi, y0, y1 in union_traps(geoms))

def intersection_geom(ga: list, gb: list) -> list:
    """ga ∩ gb as a multipolygon of disjoint trapezoids."""
    out = []
    for lo, hi, y0, y1 in intersection_traps(ga, gb):
        p = _trap_poly(lo, hi, y0, y1)
        if p:
            out.append(p)
    return out

def union_geom(geoms: list[list]) -> list:
    """Union of N geometries as a multipolygon of disjoint trapezoids."""
    out = []
    for lo, hi, y0, y1 in union_traps(geoms):
        p = _trap_poly(lo, hi, y0, y1)
        if p:
            out.append(p)
    return out

def difference_traps(ga: list, gb: list):
    """Yield trapezoids of ga \\ gb (per band: A's intervals minus B's)."""
    ea, eb = _edges(ga), _edges(gb)
    if not ea:
        return
    if not eb:
        for y_lo, y_hi, ivs in _bands_of(ea):
            for lo, hi in ivs:
                yield lo, hi, y_lo, y_hi
        return
    ys = _critical_ys([ea, eb])
    for y_lo, y_hi in zip(ys, ys[1:]):
        if y_hi - y_lo <= _EPS:
            continue
        ym = (y_lo + y_hi) / 2.0
        ia = _band_intervals(ea, y_lo, y_hi)
        ib = sorted(_band_intervals(eb, y_lo, y_hi),
                    key=lambda iv: _x_at(iv[0], ym))
        for la, ha in ia:
            # walk B's intervals, emitting the uncovered slices of [la, ha]
            cur = la
            for lb, hb in ib:
                if _x_at(hb, ym) <= _x_at(cur, ym):
                    continue
                if _x_at(lb, ym) >= _x_at(ha, ym):
                    break
                if _x_at(lb, ym) > _x_at(cur, ym):
                    yield cur, lb, y_lo, y_hi
                if _x_at(hb, ym) < _x_at(ha, ym):
                    cur = hb
                else:
                    cur = None
                    break
            if cur is not None and _x_at(cur, ym) < _x_at(ha, ym):
                yield cur, ha, y_lo, y_hi

def _bands_of(edges: list):
    ys = _critical_ys([edges])
    for y_lo, y_hi in zip(ys, ys[1:]):
        if y_hi - y_lo > _EPS:
            yield y_lo, y_hi, _band_intervals(edges, y_lo, y_hi)

def difference_area(ga: list, gb: list) -> float:
    return sum(_trap_area(lo, hi, y0, y1)
               for lo, hi, y0, y1 in difference_traps(ga, gb))

def difference_geom(ga: list, gb: list) -> list:
    out = []
    for lo, hi, y0, y1 in difference_traps(ga, gb):
        p = _trap_poly(lo, hi, y0, y1)
        if p:
            out.append(p)
    return out
