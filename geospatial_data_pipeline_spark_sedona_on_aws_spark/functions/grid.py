"""PostGIS tiling/grid constructors: ST_TileEnvelope, ST_Square,
ST_Hexagon — plus the exact closed-form hex-binning arithmetic the
hex_density_rollup query shares with its DuckDB oracle.

PostGIS grew these in 3.1 (grid generators) / 3.0 (ST_TileEnvelope) as
the standard way to turn point/polygon soup into fixed-cell rollups —
the shape every 100-TB spatial aggregation wants: cell assignment is
pure arithmetic (whole-stage codegen, no Python, no shuffle), the
rollup is one hash aggregate on a small integer key. The reference
pipeline dissolves by land-use key (spark_job/process_geodata.py:101);
a grid rollup is the density-map sibling of that aggregation.

Cross-engine determinism contract (COVERAGE.md): every vertex and every
cell assignment is built ONLY from +,-,*,/ and sqrt(3.0) — all IEEE-754
correctly-rounded, so Spark (JVM/Python) and DuckDB produce bit-equal
doubles when the evaluation ORDER matches. The Python bodies below and
the oracle SQL in plans/grid_queries.py spell each formula in the same
association order on purpose; no trig (java.lang.Math.cos and libm may
legally differ by 1 ulp), no tolerances.

Conventions (documented because PostGIS's i/j addressing is not
verifiable in this sandbox):

- ST_TileEnvelope(zoom, x, y): XYZ web-mercator tile bounds over the
  full EPSG:3857 extent [-20037508.342789244, 20037508.342789244],
  y growing south (the slippy-map standard, identical to PostGIS
  defaults). NULL outside 0 <= x, y < 2^zoom or zoom outside [0, 30].
- ST_Square(size, i, j): axis square [i*size, (i+1)*size] x
  [j*size, (j+1)*size] (PostGIS ST_SquareGrid cell at origin POINT(0 0)).
- ST_Hexagon(size, q, r): FLAT-TOP hexagon with edge length `size` in
  AXIAL coordinates: center (size*1.5*q, size*sqrt(3)*(r + q*0.5)),
  ring starting at the east vertex, counter-clockwise. Flat-top axial
  is the layout PostGIS's hexagon grid tiles; the axial address is
  stated explicitly so the binning inverse below is self-consistent.
"""

from __future__ import annotations

import math


from ..kernel import geomtypes as GT

#: EPSG:3857 half-extent (PostGIS ST_TileEnvelope default bounds)
MERC_HALF = 20037508.342789244
#: full extent — spelled as a literal (not HALF*2) so the oracle SQL
#: uses the same token
MERC_WORLD = 40075016.685578488

_SQRT3 = math.sqrt(3.0)


def _tile_envelope(z, x, y) -> str | None:
    if z is None or x is None or y is None:
        return None
    z, x, y = int(z), int(x), int(y)
    if not (0 <= z <= 30) or not (0 <= x < 2 ** z) or not (0 <= y < 2 ** z):
        return None
    width = MERC_WORLD / (2.0 ** z)
    minx = -MERC_HALF + x * width
    maxx = -MERC_HALF + (x + 1) * width
    maxy = MERC_HALF - y * width
    miny = MERC_HALF - (y + 1) * width
    return GT.to_wkt(("POLYGON", [[[(minx, miny), (maxx, miny),
                                    (maxx, maxy), (minx, maxy)]]]))


def _square(size, i, j) -> str | None:
    if size is None or i is None or j is None or size <= 0:
        return None
    size, i, j = float(size), int(i), int(j)
    x1, y1 = i * size, j * size
    x2, y2 = (i + 1) * size, (j + 1) * size
    return GT.to_wkt(("POLYGON", [[[(x1, y1), (x2, y1),
                                    (x2, y2), (x1, y2)]]]))


def hex_center(size: float, q: int, r: int) -> tuple[float, float]:
    """Axial (q, r) -> flat-top hexagon center. Association order is the
    contract: (size*1.5)*q and (size*sqrt3)*(r + q*0.5), mirrored
    token-for-token by the oracle SQL."""
    cx = size * 1.5 * q
    cy = size * _SQRT3 * (r + q * 0.5)
    return cx, cy


def _hexagon(size, q, r) -> str | None:
    if size is None or q is None or r is None or size <= 0:
        return None
    size, q, r = float(size), int(q), int(r)
    cx, cy = hex_center(size, q, r)
    h = size * _SQRT3 * 0.5
    half = size * 0.5
    ring = [(cx + size, cy), (cx + half, cy + h), (cx - half, cy + h),
            (cx - size, cy), (cx - half, cy - h), (cx + half, cy - h)]
    return GT.to_wkt(("POLYGON", [[ring]]))


def hex_assign(size: float, x: float, y: float) -> tuple[int, int]:
    """Point -> axial hexagon address: fractional axial coordinates then
    the standard cube round (round the three cube coordinates, re-derive
    the one with the largest rounding error). round() is spelled
    floor(v + 0.5) — SQL round() is half-away-from-zero while Python
    round() is banker's; floor(+0.5) is the one spelling both engines
    evaluate identically (the multimodal_audio_features precedent)."""
    qf = x * (2.0 / 3.0) / size
    rf = (x * (-1.0 / 3.0) + y * (_SQRT3 / 3.0)) / size
    yf = -qf - rf
    rq = math.floor(qf + 0.5)
    ry = math.floor(yf + 0.5)
    rr = math.floor(rf + 0.5)
    dq = abs(rq - qf)
    dy = abs(ry - yf)
    dr = abs(rr - rf)
    if dq > dy and dq > dr:
        rq = -ry - rr
    elif not (dy > dr):
        rr = -rq - ry
    return int(rq), int(rr)


def hex_assign_exprs(x: str, y: str, size: str) -> list[str]:
    """The fractional-axial step of hex_assign as two SQL expressions
    (aliased qf, rf). The SAME strings feed the engine's selectExpr and
    the DuckDB oracle text, so the doubles are bit-equal by
    construction."""
    # numeric literals are spelled CAST(n AS DOUBLE): Spark parses bare
    # `2.0 / 3.0` as DECIMAL division (a lower-precision constant) while
    # DuckDB parses DOUBLE — the CAST makes both engines evaluate the
    # same IEEE double expression
    return [
        f"{x} * (CAST(2 AS DOUBLE) / 3) / {size} AS qf",
        f"({x} * (CAST(-1 AS DOUBLE) / 3)"
        f" + {y} * (sqrt(CAST(3 AS DOUBLE)) / 3)) / {size} AS rf",
    ]


#: the cube-round step of hex_assign over (qf, rf) — shared
#: engine/oracle like hex_assign_exprs; floor(v + 0.5) rounding per the
#: hex_assign docstring
HEX_ROUND_EXPRS = [
    "CAST(CASE WHEN abs(floor(qf + 0.5) - qf)"
    " > abs(floor(-qf - rf + 0.5) - (-qf - rf))"
    " AND abs(floor(qf + 0.5) - qf) > abs(floor(rf + 0.5) - rf)"
    " THEN -floor(-qf - rf + 0.5) - floor(rf + 0.5)"
    " ELSE floor(qf + 0.5) END AS BIGINT) AS hq",
    "CAST(CASE WHEN NOT (abs(floor(qf + 0.5) - qf)"
    " > abs(floor(-qf - rf + 0.5) - (-qf - rf))"
    " AND abs(floor(qf + 0.5) - qf) > abs(floor(rf + 0.5) - rf))"
    " AND NOT (abs(floor(-qf - rf + 0.5) - (-qf - rf))"
    " > abs(floor(rf + 0.5) - rf))"
    " THEN -floor(qf + 0.5) - floor(-qf - rf + 0.5)"
    " ELSE floor(rf + 0.5) END AS BIGINT) AS hr",
]
