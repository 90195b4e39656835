"""Registry queries for the grid/tiling surface (functions/grid.py):
PostGIS ST_TileEnvelope / ST_Square / ST_Hexagon constructors, and the
hexagonal density rollup — the fixed-cell aggregation shape every
100-TB spatial pipeline runs (cell assignment is pure whole-stage
codegen arithmetic, the rollup one hash aggregate on a small integer
key; no Python anywhere in the binning path).

Oracle determinism: every compared double is produced by +,-,*,/ and
sqrt(3.0) in the SAME association order on both engines (see the
functions/grid.py module docstring); the hex-assignment SQL fragments
are shared verbatim between the engine's selectExpr and the DuckDB
oracle text, so equality is bit-exact with no tolerances. Areas are
deliberately NOT compared against closed forms (shoelace vs
1.5*sqrt(3)*s^2 differ in the last ulp); vertex readbacks are.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.grid import HEX_ROUND_EXPRS, hex_assign_exprs
from . import fixtures

#: hexagon edge length for the density rollup (land_use coordinates
#: span ~0..110, so ~6 gives a few hundred occupied cells at sf0.1);
#: CAST-spelled because Spark parses bare `6.0` as DECIMAL (see
#: functions/grid.hex_assign_exprs)
HEX_SIZE = "CAST(6 AS DOUBLE)"


def _lu(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.spatial import register_spatial_functions

    register_spatial_functions(spark)
    return fixtures.land_use_areas(spark, sf_dir, wkt=False)


# -------------------------------------------------------- constructors

def st_grid_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_TileEnvelope (bounds readback + out-of-range NULL gate),
    ST_Square and ST_Hexagon (vertex readbacks through the WKT round
    trip — repr round-trips doubles exactly), exercised per land_use
    row with per-row zoom/size/address."""
    from ..functions import chainrw

    lu = _lu(spark, sf_dir)
    cells = lu.selectExpr(
        "property_id",
        "2 + property_id % 10 AS z",
        "x1 % 4 AS tx", "y1 % 4 AS ty",
        "CAST(1 + property_id % 3 AS DOUBLE) AS s",
        "x1 - 50 AS gi", "y1 - 50 AS gj",
    )
    return chainrw.select_st(
        cells,
        "property_id",
        "ST_XMin(ST_TileEnvelope(z, tx, ty)) AS tile_xmin",
        "ST_XMax(ST_TileEnvelope(z, tx, ty)) AS tile_xmax",
        "ST_YMin(ST_TileEnvelope(z, tx, ty)) AS tile_ymin",
        "ST_YMax(ST_TileEnvelope(z, tx, ty)) AS tile_ymax",
        # x = 4 + x1 % 10 >= 4 = 2^2: always out of range at zoom 2
        "ST_TileEnvelope(2, 4 + property_id % 10, 0) IS NULL AS tile_oob",
        "ST_XMin(ST_Square(s, gi, gj)) AS sq_xmin",
        "ST_YMax(ST_Square(s, gi, gj)) AS sq_ymax",
        "ST_NPoints(ST_Square(s, gi, gj)) AS sq_np",
        "ST_X(ST_PointN(ST_ExteriorRing(ST_Hexagon(s, gi, gj)), 1))"
        " AS hex_e_x",
        "ST_Y(ST_PointN(ST_ExteriorRing(ST_Hexagon(s, gi, gj)), 1))"
        " AS hex_e_y",
        "ST_Y(ST_PointN(ST_ExteriorRing(ST_Hexagon(s, gi, gj)), 2))"
        " AS hex_ne_y",
        "ST_NPoints(ST_Hexagon(s, gi, gj)) AS hex_np",
    )


ST_GRID_OPS_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()},
p AS (
    SELECT property_id,
           2 + property_id % 10 AS z,
           x1 % 4 AS tx, y1 % 4 AS ty,
           CAST(1 + property_id % 3 AS DOUBLE) AS s,
           x1 - 50 AS gi, y1 - 50 AS gj
    FROM land_use
),
w AS (
    SELECT *, 40075016.685578488 / power(2.0, z) AS width FROM p
)
SELECT property_id,
       -20037508.342789244 + tx * width AS tile_xmin,
       -20037508.342789244 + (tx + 1) * width AS tile_xmax,
       20037508.342789244 - (ty + 1) * width AS tile_ymin,
       20037508.342789244 - ty * width AS tile_ymax,
       TRUE AS tile_oob,
       gi * s AS sq_xmin,
       (gj + 1) * s AS sq_ymax,
       CAST(5 AS BIGINT) AS sq_np,
       s * 1.5 * gi + s AS hex_e_x,
       s * sqrt(3.0) * (gj + gi * 0.5) AS hex_e_y,
       s * sqrt(3.0) * (gj + gi * 0.5) + s * sqrt(3.0) * 0.5 AS hex_ne_y,
       CAST(7 AS BIGINT) AS hex_np
FROM w
"""


# ------------------------------------------------------ density rollup

def hex_density_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal density map over land_use parcel centroids: assign each
    centroid to a flat-top hex cell (pure codegen arithmetic — the
    shared hex_assign fragments), one hash aggregate on the (hq, hr)
    integer key. Scale shape: zero Python, zero joins, one shuffle of
    pre-aggregated partials; a hot cell is just a bigger count.
    Returns (hq, hr, n_parcels, total_area, cx, cy)."""
    lu = _lu(spark, sf_dir)
    pts = lu.selectExpr(
        "CAST(x1 + x2 AS DOUBLE) * 0.5 AS px",
        "CAST(y1 + y2 AS DOUBLE) * 0.5 AS py",
        "(x2 - x1) * (y2 - y1) AS parcel_area",
    )
    frac = pts.selectExpr(
        "parcel_area", *hex_assign_exprs("px", "py", HEX_SIZE))
    cells = frac.selectExpr("parcel_area", *HEX_ROUND_EXPRS)
    from pyspark.sql import functions as F

    return (
        cells.groupBy("hq", "hr")
        .agg(F.count("*").alias("n_parcels"),
             F.sum("parcel_area").alias("total_area"))
        .selectExpr(
            "hq", "hr", "n_parcels", "total_area",
            f"{HEX_SIZE} * CAST(1.5 AS DOUBLE) * hq AS cx",
            f"{HEX_SIZE} * sqrt(CAST(3 AS DOUBLE))"
            " * (hr + hq * CAST(0.5 AS DOUBLE)) AS cy",
        )
    )


HEX_DENSITY_ROLLUP_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()},
pts AS (
    SELECT CAST(x1 + x2 AS DOUBLE) * 0.5 AS px,
           CAST(y1 + y2 AS DOUBLE) * 0.5 AS py,
           (x2 - x1) * (y2 - y1) AS parcel_area
    FROM land_use
),
frac AS (
    SELECT parcel_area, {", ".join(hex_assign_exprs("px", "py", HEX_SIZE))}
    FROM pts
),
cells AS (
    SELECT parcel_area, {", ".join(HEX_ROUND_EXPRS)} FROM frac
)
SELECT hq, hr,
       count(*) AS n_parcels,
       -- DuckDB sums BIGINT into HUGEINT; the driver gate hashes raw
       -- dtypes, so cast back to the engine's BIGINT (the r2 q12 lesson)
       CAST(sum(parcel_area) AS BIGINT) AS total_area,
       {HEX_SIZE} * CAST(1.5 AS DOUBLE) * hq AS cx,
       {HEX_SIZE} * sqrt(CAST(3 AS DOUBLE))
           * (hr + hq * CAST(0.5 AS DOUBLE)) AS cy
FROM cells
GROUP BY hq, hr
"""
