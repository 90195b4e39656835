"""Coordinate transform: EPSG:3857 (WGS84 Web Mercator) → EPSG:5880
(SIRGAS 2000 / Brazil Polyconic).

This is the single CRS pair the reference uses — ST_Transform(geometry,
'EPSG:3857', 'EPSG:5880') so areas come out in m²
(reference spark_job/process_geodata.py:124,133-136).

Closed-form, no pyproj: spherical Web-Mercator inverse + ellipsoidal American
Polyconic forward per Snyder, "Map Projections: A Working Manual" (USGS PP
1395), eqs. 3-21, 18-12..18-15. SIRGAS 2000 uses the GRS80 ellipsoid, which is
WGS84-compatible at the accuracy scale of this pipeline, so no datum shift.
"""

from __future__ import annotations

import math

# GRS80 / WGS84 shared semi-major axis
_A = 6378137.0
_F = 1.0 / 298.257222101  # GRS80 flattening
_E2 = _F * (2.0 - _F)
_E4 = _E2 * _E2
_E6 = _E4 * _E2

# EPSG:5880 projection parameters
_LON0 = math.radians(-54.0)
_FE = 5_000_000.0
_FN = 10_000_000.0

_M0_C0 = 1.0 - _E2 / 4.0 - 3.0 * _E4 / 64.0 - 5.0 * _E6 / 256.0
_M0_C2 = 3.0 * _E2 / 8.0 + 3.0 * _E4 / 32.0 + 45.0 * _E6 / 1024.0
_M0_C4 = 15.0 * _E4 / 256.0 + 45.0 * _E6 / 1024.0
_M0_C6 = 35.0 * _E6 / 3072.0

def _meridian_arc(phi: float) -> float:
    return _A * (_M0_C0 * phi - _M0_C2 * math.sin(2 * phi)
                 + _M0_C4 * math.sin(4 * phi) - _M0_C6 * math.sin(6 * phi))

# footpoint latitude: series inverse of the meridian arc (Snyder eqs.
# 3-26/7-19). Used only to SEED Newton — the fixpoint definition of every
# inverse is unchanged; a tight seed just drops the iteration count from
# ~3.5 (crude y/a seed) to ~1 (r7 profile: the UTM round trip spent 80%
# of its budget in finite-difference forward evals)
_E1 = (1.0 - math.sqrt(1.0 - _E2)) / (1.0 + math.sqrt(1.0 - _E2))
_FP_C2 = 3.0 * _E1 / 2.0 - 27.0 * _E1 ** 3 / 32.0
_FP_C4 = 21.0 * _E1 ** 2 / 16.0 - 55.0 * _E1 ** 4 / 32.0
_FP_C6 = 151.0 * _E1 ** 3 / 96.0
_FP_C8 = 1097.0 * _E1 ** 4 / 512.0

def _footpoint_lat(m: float) -> float:
    mu = m / (_A * _M0_C0)
    return (mu + _FP_C2 * math.sin(2.0 * mu) + _FP_C4 * math.sin(4.0 * mu)
            + _FP_C6 * math.sin(6.0 * mu) + _FP_C8 * math.sin(8.0 * mu))

def webmercator_inverse(x: float, y: float) -> tuple[float, float]:
    """EPSG:3857 metres → (lon, lat) radians (spherical, R = a)."""
    lon = x / _A
    lat = 2.0 * math.atan(math.exp(y / _A)) - math.pi / 2.0
    return lon, lat

def polyconic_forward(lon: float, lat: float) -> tuple[float, float]:
    """(lon, lat) radians → EPSG:5880 easting/northing metres."""
    if abs(lat) < 1e-12:
        # sub-picoradian band: cot(lat) overflows, so evaluate the
        # lat→0 LIMIT of the closed form instead of collapsing to the
        # equator — x → n·Δlon·cos(lat) ≈ A·Δlon and y → M(lat) + 0 (the
        # bulge term vanishes as O(lat)). Dropping M(lat) ≈ A·C0·lat
        # (up to ~6e-6 m inside the guard) broke the sub-micrometre
        # round-trip property at y ≈ 3.7e-6 m (r13 hypothesis find);
        # M(0) = 0 exactly, so integer-coordinate fixtures are
        # bit-unchanged.
        return _FE + _A * (lon - _LON0), _FN + _meridian_arc(lat)
    n = _A / math.sqrt(1.0 - _E2 * math.sin(lat) ** 2)
    cot = 1.0 / math.tan(lat)
    e_ang = (lon - _LON0) * math.sin(lat)
    x = n * cot * math.sin(e_ang)
    # 2·sin²(E/2), not 1−cos(E): for |lat| ≲ 1e-5 (metres from the equator)
    # E ~ 1e-7 and 1−cos(E) cancels catastrophically; multiplied by
    # cot(lat) ~ 1e7 the noise reached millimetres per vertex, visible in
    # area checks. The half-angle form keeps full relative precision.
    y = _meridian_arc(lat) + n * cot * 2.0 * math.sin(e_ang / 2.0) ** 2
    return _FE + x, _FN + y

def mercator_to_polyconic(x: float, y: float) -> tuple[float, float]:
    """EPSG:3857 → EPSG:5880, the fused per-vertex transform."""
    return polyconic_forward(*webmercator_inverse(x, y))

def transform_geom(geom: list) -> list:
    """Apply the vertex transform to a kernel geometry (list-of-polygons)."""
    return [[[mercator_to_polyconic(x, y) for x, y in ring] for ring in poly]
            for poly in geom]

# ------------------------------------------------------------ inverse pair

def webmercator_forward(lon: float, lat: float) -> tuple[float, float]:
    """(lon, lat) radians → EPSG:3857 metres (spherical, R = a)."""
    return _A * lon, _A * math.log(math.tan(math.pi / 4.0 + lat / 2.0))

def polyconic_inverse(x: float, y: float) -> tuple[float, float]:
    """EPSG:5880 easting/northing metres → (lon, lat) radians.

    2-D Newton on the closed-form forward (finite-difference Jacobian):
    simple, robust near the equator branch, and converges to < 1e-9 m in
    ~4 iterations from the M(φ) ≈ y_rel seed. Chosen over Snyder's 18-18
    series inverse so the inverse is DEFINED as forward's fixpoint — any
    future forward fix automatically keeps the pair consistent
    (round-trip property-tested to sub-micrometre)."""
    # footpoint seed: y - FN = M(lat) + n·cot(lat)·2sin²(E/2); the series
    # inverse of M alone absorbs all but the O(E²) bulge, and one explicit
    # correction pass (solve E from the x equation at the first footpoint,
    # subtract the bulge, re-invert M) lands within ~1e-4 m — one Newton
    # step from the tolerance (r7: 6.9 -> 4 forward evals per point)
    m = y - _FN
    lat = _footpoint_lat(m)
    s = math.sin(lat)
    if abs(s) > 1e-6:
        c = math.cos(lat)
        cot = c / s
        n = _A / math.sqrt(1.0 - _E2 * s * s)
        sin_e = (x - _FE) / (n * cot)
        if -1.0 <= sin_e <= 1.0:
            e_ang = math.asin(sin_e)
            lat = _footpoint_lat(m - n * cot * 2.0 * math.sin(e_ang / 2.0) ** 2)
            lon = _LON0 + e_ang / s
            return _newton_inverse(polyconic_forward, x, y, lon, lat)
    lon = _LON0 + (x - _FE) / (_A * max(math.cos(lat), 1e-9))
    return _newton_inverse(polyconic_forward, x, y, lon, lat)

def polyconic_to_mercator(x: float, y: float) -> tuple[float, float]:
    """EPSG:5880 → EPSG:3857, the fused inverse per-vertex transform."""
    return webmercator_forward(*polyconic_inverse(x, y))

# --------------------------------------------------------- CRS registry
#
# r4 verdict item 6: the closed-form forward + Newton-inverse pattern,
# generalized to a small public-formula registry. Every CRS is a pair of
# functions between (lon, lat) RADIANS and projected coordinates:
#
#   EPSG:4326   lon/lat degrees (axis order lon, lat — the GIS-tool
#               convention, matching PostGIS ST_Transform output)
#   EPSG:3857   WGS84 Web Mercator (spherical, R = a) — Snyder eq. 7-1/7-2
#   EPSG:5880   SIRGAS 2000 / Brazil Polyconic — Snyder eqs. 18-12..18-15
#   EPSG:326xx  WGS84 / UTM zone xx north — transverse Mercator series,
#   EPSG:327xx  WGS84 / UTM zone xx south    Snyder eqs. 8-9..8-13
#
# Inverses are DEFINED as the forward's Newton fixpoint (same rationale as
# polyconic_inverse): any forward fix keeps the pair consistent, and the
# hypothesis round-trip tests bound the residual at sub-micrometre.

_K0_UTM = 0.9996
_EP2 = _E2 / (1.0 - _E2)  # e'^2


def _utm_forward(lon: float, lat: float, lon0: float,
                 fn: float) -> tuple[float, float]:
    s, c, t = math.sin(lat), math.cos(lat), math.tan(lat)
    n = _A / math.sqrt(1.0 - _E2 * s * s)
    bigT = t * t
    bigC = _EP2 * c * c
    bigA = (lon - lon0) * c
    m = _meridian_arc(lat)
    a2 = bigA * bigA
    a3 = a2 * bigA
    x = _K0_UTM * n * (
        bigA + (1.0 - bigT + bigC) * a3 / 6.0
        + (5.0 - 18.0 * bigT + bigT * bigT + 72.0 * bigC - 58.0 * _EP2)
        * a3 * a2 / 120.0)
    y = _K0_UTM * (m + n * t * (
        a2 / 2.0
        + (5.0 - bigT + 9.0 * bigC + 4.0 * bigC * bigC) * a2 * a2 / 24.0
        + (61.0 - 58.0 * bigT + bigT * bigT + 600.0 * bigC - 330.0 * _EP2)
        * a3 * a3 / 720.0))
    return 500_000.0 + x, fn + y


def _newton_inverse(forward, x: float, y: float, lon_seed: float,
                    lat_seed: float) -> tuple[float, float]:
    """Generic 2-D Newton on a closed-form forward (finite-difference
    Jacobian) — the polyconic_inverse machinery, reusable per CRS."""
    lon, lat = lon_seed, lat_seed
    # tolerance: 1 nm absolute OR ~4 ULP relative — at northing ~1e7 m one
    # float64 ULP is already 2.2e-9 m, so a pure 1e-9 absolute gate is
    # unreachable there and Newton would spin at the rounding floor
    # (r7 profile: that floor cost ~2 extra forward evals per point)
    tx = 1e-9 + 1e-15 * abs(x)
    ty = 1e-9 + 1e-15 * abs(y)
    jac = None
    for it in range(30):
        fx, fy = forward(lon, lat)
        rx, ry = fx - x, fy - y
        if abs(rx) < tx and abs(ry) < ty:
            break
        # fresh Jacobian on the first and every 2nd step: the series
        # seeds land within ~1 m, so a single quadratic step reaches the
        # 1e-9 m tolerance — re-evaluating the Jacobian each step would
        # only burn forward evals on a residual that one step kills
        if jac is None or it % 2 == 0:
            h = 1e-8
            fx1, fy1 = forward(lon + h, lat)
            fx2, fy2 = forward(lon, lat + h)
            j11, j21 = (fx1 - fx) / h, (fy1 - fy) / h
            j12, j22 = (fx2 - fx) / h, (fy2 - fy) / h
            det = j11 * j22 - j12 * j21
            if det == 0.0:
                break
            jac = (j11, j12, j21, j22, det)
        j11, j12, j21, j22, det = jac
        lon -= (rx * j22 - j12 * ry) / det
        lat -= (j11 * ry - rx * j21) / det
    return lon, lat


def _make_utm(zone: int, south: bool):
    lon0 = math.radians(-183.0 + 6.0 * zone)
    fn = 10_000_000.0 if south else 0.0

    def fwd(lon: float, lat: float) -> tuple[float, float]:
        return _utm_forward(lon, lat, lon0, fn)

    def inv(x: float, y: float) -> tuple[float, float]:
        # Snyder's series inverse (eqs. 8-17..8-25) as the Newton seed:
        # accurate to ~1e-8 rad even 6 deg off the central meridian, so
        # Newton is a 1-step polish + fixpoint verification instead of a
        # 3-4 step search (r7: this halved the inverse's forward evals)
        phi1 = _footpoint_lat((y - fn) / _K0_UTM)
        s1, c1 = math.sin(phi1), math.cos(phi1)
        t1 = s1 / c1
        bigT = t1 * t1
        bigC = _EP2 * c1 * c1
        w = 1.0 - _E2 * s1 * s1
        n1 = _A / math.sqrt(w)
        r1 = _A * (1.0 - _E2) / (w * math.sqrt(w))
        d = (x - 500_000.0) / (n1 * _K0_UTM)
        d2 = d * d
        lat_seed = phi1 - (n1 * t1 / r1) * (
            d2 / 2.0
            - (5.0 + 3.0 * bigT + 10.0 * bigC - 4.0 * bigC * bigC
               - 9.0 * _EP2) * d2 * d2 / 24.0
            + (61.0 + 90.0 * bigT + 298.0 * bigC + 45.0 * bigT * bigT
               - 252.0 * _EP2 - 3.0 * bigC * bigC) * d2 * d2 * d2 / 720.0)
        lon_seed = lon0 + (
            d - (1.0 + 2.0 * bigT + bigC) * d2 * d / 6.0
            + (5.0 - 2.0 * bigC + 28.0 * bigT - 3.0 * bigC * bigC
               + 8.0 * _EP2 + 24.0 * bigT * bigT) * d2 * d2 * d / 120.0) / c1
        return _newton_inverse(fwd, x, y, lon_seed, lat_seed)

    return fwd, inv


def _lonlat_fwd(lon: float, lat: float) -> tuple[float, float]:
    return math.degrees(lon), math.degrees(lat)


def _lonlat_inv(x: float, y: float) -> tuple[float, float]:
    return math.radians(x), math.radians(y)


# name -> (forward(lon, lat) -> (x, y), inverse(x, y) -> (lon, lat))
_BASE_CRS = {
    "EPSG:4326": (_lonlat_fwd, _lonlat_inv),
    "EPSG:3857": (webmercator_forward, webmercator_inverse),
    "EPSG:5880": (polyconic_forward, polyconic_inverse),
}


def resolve_crs(name: str):
    """(forward, inverse) for a registered CRS. UTM zones are synthesized
    on demand from the EPSG code (326xx north / 327xx south)."""
    crs = _BASE_CRS.get(name)
    if crs is not None:
        return crs
    if name.startswith("EPSG:326") or name.startswith("EPSG:327"):
        code = name[5:]
        if len(code) == 5 and code[3:].isdigit():
            zone = int(code[3:])
            if 1 <= zone <= 60:
                crs = _make_utm(zone, south=code.startswith("327"))
                _BASE_CRS[name] = crs  # memoize the closure pair
                return crs
    raise ValueError(f"unsupported CRS {name!r} (registered: "
                     f"4326, 3857, 5880, UTM 326xx/327xx)")


def transform_point(x: float, y: float, src: str, dst: str
                    ) -> tuple[float, float]:
    """Projected point src -> dst through the (lon, lat) pivot."""
    _, inv = resolve_crs(src)
    fwd, _ = resolve_crs(dst)
    return fwd(*inv(x, y))


# ----------------------------------------------- vectorized batch forms
#
# r7: the noop-sink bench fix exposed ST_Transform's real cost — per-point
# Python trig dominated the scalar path. These numpy forms evaluate a
# whole Arrow batch's coordinates at once (same published formulas, same
# seeds, same ULP-aware Newton gate); results agree with the scalar path
# to libm-vs-SIMD ULPs, far inside every oracle's quantization.

def _np():
    import numpy as np

    return np


def _meridian_arc_np(np, phi):
    return _A * (_M0_C0 * phi - _M0_C2 * np.sin(2 * phi)
                 + _M0_C4 * np.sin(4 * phi) - _M0_C6 * np.sin(6 * phi))


def _footpoint_lat_np(np, m):
    mu = m / (_A * _M0_C0)
    return (mu + _FP_C2 * np.sin(2.0 * mu) + _FP_C4 * np.sin(4.0 * mu)
            + _FP_C6 * np.sin(6.0 * mu) + _FP_C8 * np.sin(8.0 * mu))


def _newton_inverse_np(np, forward, x, y, lon, lat, iters=8):
    tx = 1e-9 + 1e-15 * np.abs(x)
    ty = 1e-9 + 1e-15 * np.abs(y)
    for _ in range(iters):
        fx, fy = forward(lon, lat)
        rx, ry = fx - x, fy - y
        act = (np.abs(rx) > tx) | (np.abs(ry) > ty)
        if not act.any():
            break
        h = 1e-8
        fx1, fy1 = forward(lon + h, lat)
        fx2, fy2 = forward(lon, lat + h)
        j11, j21 = (fx1 - fx) / h, (fy1 - fy) / h
        j12, j22 = (fx2 - fx) / h, (fy2 - fy) / h
        det = j11 * j22 - j12 * j21
        safe = np.where(det == 0.0, 1.0, det)
        dlon = (rx * j22 - j12 * ry) / safe
        dlat = (j11 * ry - rx * j21) / safe
        step = act & (det != 0.0)
        lon = np.where(step, lon - dlon, lon)
        lat = np.where(step, lat - dlat, lat)
    return lon, lat


def _resolve_crs_np(name: str):
    """(forward, inverse) over numpy arrays of (lon, lat) radians /
    projected metres — the vector twin of resolve_crs, same CRS set."""
    np = _np()
    if name == "EPSG:4326":
        return (lambda lon, lat: (np.degrees(lon), np.degrees(lat)),
                lambda x, y: (np.radians(x), np.radians(y)))
    if name == "EPSG:3857":
        def wm_fwd(lon, lat):
            return _A * lon, _A * np.log(np.tan(np.pi / 4.0 + lat / 2.0))

        def wm_inv(x, y):
            return x / _A, 2.0 * np.arctan(np.exp(y / _A)) - np.pi / 2.0

        return wm_fwd, wm_inv
    if name == "EPSG:5880":
        def pc_fwd(lon, lat):
            s = np.sin(lat)
            flat = np.abs(lat) < 1e-12
            lat_safe = np.where(flat, 1e-12, lat)
            n = _A / np.sqrt(1.0 - _E2 * np.sin(lat_safe) ** 2)
            cot = 1.0 / np.tan(lat_safe)
            e_ang = (lon - _LON0) * np.sin(lat_safe)
            x = n * cot * np.sin(e_ang)
            yv = _meridian_arc_np(np, lat_safe) \
                + n * cot * 2.0 * np.sin(e_ang / 2.0) ** 2
            x = np.where(flat, _A * (lon - _LON0), x)
            # lat→0 limit keeps M(lat) — the scalar twin's guard fix
            # (see polyconic_forward); M(0) = 0, fixtures bit-unchanged
            yv = np.where(flat, _meridian_arc_np(np, lat), yv)
            return _FE + x, _FN + yv

        def pc_inv(x, y):
            m = y - _FN
            lat0 = _footpoint_lat_np(np, m)
            s = np.sin(lat0)
            small = np.abs(s) <= 1e-6
            s_safe = np.where(small, 1.0, s)
            c = np.cos(lat0)
            cot = c / s_safe
            n = _A / np.sqrt(1.0 - _E2 * s * s)
            sin_e = np.clip((x - _FE) / np.where(small, 1.0, n * cot),
                            -1.0, 1.0)
            e_ang = np.arcsin(sin_e)
            lat_seed = np.where(
                small, lat0,
                _footpoint_lat_np(np, m - n * cot
                                  * 2.0 * np.sin(e_ang / 2.0) ** 2))
            lon_seed = np.where(
                small,
                _LON0 + (x - _FE) / (_A * np.maximum(np.cos(lat0), 1e-9)),
                _LON0 + e_ang / s_safe)
            return _newton_inverse_np(np, pc_fwd, x, y, lon_seed, lat_seed)

        return pc_fwd, pc_inv
    if name.startswith("EPSG:326") or name.startswith("EPSG:327"):
        code = name[5:]
        if len(code) == 5 and code[3:].isdigit():
            zone = int(code[3:])
            if 1 <= zone <= 60:
                lon0 = math.radians(-183.0 + 6.0 * zone)
                fn = 10_000_000.0 if code.startswith("327") else 0.0

                def tm_fwd(lon, lat):
                    s, c, t = np.sin(lat), np.cos(lat), np.tan(lat)
                    n = _A / np.sqrt(1.0 - _E2 * s * s)
                    bigT = t * t
                    bigC = _EP2 * c * c
                    bigA = (lon - lon0) * c
                    m = _meridian_arc_np(np, lat)
                    a2 = bigA * bigA
                    a3 = a2 * bigA
                    x = _K0_UTM * n * (
                        bigA + (1.0 - bigT + bigC) * a3 / 6.0
                        + (5.0 - 18.0 * bigT + bigT * bigT + 72.0 * bigC
                           - 58.0 * _EP2) * a3 * a2 / 120.0)
                    yv = _K0_UTM * (m + n * t * (
                        a2 / 2.0
                        + (5.0 - bigT + 9.0 * bigC + 4.0 * bigC * bigC)
                        * a2 * a2 / 24.0
                        + (61.0 - 58.0 * bigT + bigT * bigT
                           + 600.0 * bigC - 330.0 * _EP2)
                        * a3 * a3 / 720.0))
                    return 500_000.0 + x, fn + yv

                def tm_inv(x, y):
                    phi1 = _footpoint_lat_np(np, (y - fn) / _K0_UTM)
                    s1, c1 = np.sin(phi1), np.cos(phi1)
                    t1 = s1 / c1
                    bigT = t1 * t1
                    bigC = _EP2 * c1 * c1
                    w = 1.0 - _E2 * s1 * s1
                    n1 = _A / np.sqrt(w)
                    r1 = _A * (1.0 - _E2) / (w * np.sqrt(w))
                    d = (x - 500_000.0) / (n1 * _K0_UTM)
                    d2 = d * d
                    lat_seed = phi1 - (n1 * t1 / r1) * (
                        d2 / 2.0
                        - (5.0 + 3.0 * bigT + 10.0 * bigC
                           - 4.0 * bigC * bigC - 9.0 * _EP2)
                        * d2 * d2 / 24.0
                        + (61.0 + 90.0 * bigT + 298.0 * bigC
                           + 45.0 * bigT * bigT - 252.0 * _EP2
                           - 3.0 * bigC * bigC) * d2 * d2 * d2 / 720.0)
                    lon_seed = lon0 + (
                        d - (1.0 + 2.0 * bigT + bigC) * d2 * d / 6.0
                        + (5.0 - 2.0 * bigC + 28.0 * bigT
                           - 3.0 * bigC * bigC + 8.0 * _EP2
                           + 24.0 * bigT * bigT) * d2 * d2 * d / 120.0) / c1
                    return _newton_inverse_np(np, tm_fwd, x, y,
                                              lon_seed, lat_seed)

                return tm_fwd, tm_inv
    raise ValueError(f"unsupported CRS {name!r} (registered: "
                     f"4326, 3857, 5880, UTM 326xx/327xx)")


def transform_points_np(xs, ys, src: str, dst: str):
    """Vectorized src -> dst over coordinate arrays, through the
    (lon, lat) pivot — the batch twin of transform_point."""
    _, inv = _resolve_crs_np(src)
    fwd, _ = _resolve_crs_np(dst)
    lon, lat = inv(xs, ys)
    return fwd(lon, lat)
