"""Registry queries for the r9 Sedona/PostGIS name-parity batch
(functions/spatial_ext.py): constructors-from-text, ring orientation +
structure flags, and clearance/inscribed-circle/3D metrics — each name
exercised over the land_use rect fixture with a closed-form DuckDB
oracle (the st_misc_ops pattern, plans/pipeline.py:981).

The reference only spells ~10 ST_ names (spark_job/process_geodata.py:
102-139); these close more of the full Sedona registry a reference user
has loaded. Scale shape for all three: one pruned scan, row-local
pandas_udf projections, zero joins/shuffles beyond the fixture's spread
exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import chainrw
from . import fixtures

def _lu(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.spatial import register_spatial_functions

    register_spatial_functions(spark)
    return fixtures.land_use_areas(spark, sf_dir, wkt=False)

# ------------------------------------------------- constructors from text

def st_from_text_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_PolygonFromEnvelope / ST_PointFromText (delimited) /
    ST_LineStringFromText (delimited) / typed ST_*FromText gates /
    ST_LineFromMultiPoint / ST_AsHEXEWKB, all closed-form on the rect
    ints. The typed gates prove BOTH directions: matching input parses,
    mismatched input nulls (Sedona semantics)."""
    lu = _lu(spark, sf_dir)
    rect = ("concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ',"
            " x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')")
    mpoly = ("concat('MULTIPOLYGON (((', x1, ' ', y1, ', ', x2, ' ', y1,"
             " ', ', x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1,"
             " ')))')")
    mpt = "concat('MULTIPOINT (', x1, ' ', y1, ', ', x2, ' ', y2, ')')"
    lfmp_src = ("concat('MULTIPOINT (', x1, ' ', y1, ', ', x2, ' ', y1,"
                " ', ', x2, ' ', y2, ')')")
    pft = "ST_PointFromText(concat(x1, ',', y1), ',')"
    lsft = ("ST_LineStringFromText("
            "concat(x1, ',', y1, ',', x2, ',', y1, ',', x2, ',', y2), ',')")
    return chainrw.select_st(
        lu,
        "property_id",
        "ST_Area(ST_PolygonFromEnvelope(CAST(x1 AS DOUBLE),"
        " CAST(y1 AS DOUBLE), CAST(x2 AS DOUBLE), CAST(y2 AS DOUBLE)))"
        " AS env_area",
        f"ST_X({pft}) AS pft_x",
        f"ST_Y({pft}) AS pft_y",
        f"ST_Length({lsft}) AS lsft_len",
        f"ST_NPoints({lsft}) AS lsft_np",
        f"ST_LineFromText({rect}) IS NULL AS lft_mismatch_null",
        "ST_Length(ST_LineFromText(concat('LINESTRING (', x1, ' ', y1,"
        "', ', x2, ' ', y1, ')'))) AS lft_len",
        f"ST_Area(ST_MPolyFromText({mpoly})) AS mpoly_area",
        f"ST_MPolyFromText({rect}) IS NULL AS mpoly_mismatch_null",
        f"ST_NPoints(ST_MPointFromText({mpt})) AS mpt_np",
        f"ST_MPointFromText({rect}) IS NULL AS mpt_mismatch_null",
        "ST_NumGeometries(ST_GeomCollFromText(concat("
        "'GEOMETRYCOLLECTION (POINT (', x1, ' ', y1, '))'))) AS gc_n",
        f"ST_Length(ST_LineFromMultiPoint({lfmp_src})) AS lfmp_len",
        "ST_AsHEXEWKB('POINT (1 2)') AS hex_pt",
        f"CAST(length(ST_AsHEXEWKB({rect})) AS BIGINT) AS hex_rect_len",
    )

ST_FROM_TEXT_OPS_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()},
b AS (
    SELECT property_id,
           CAST(x2 - x1 AS DOUBLE) AS w, CAST(y2 - y1 AS DOUBLE) AS h,
           CAST(x1 AS DOUBLE) AS x1d, CAST(y1 AS DOUBLE) AS y1d
    FROM land_use
)
SELECT property_id,
       w * h AS env_area,
       x1d AS pft_x,
       y1d AS pft_y,
       w + h AS lsft_len,
       CAST(3 AS BIGINT) AS lsft_np,
       TRUE AS lft_mismatch_null,
       w AS lft_len,
       w * h AS mpoly_area,
       TRUE AS mpoly_mismatch_null,
       CAST(2 AS BIGINT) AS mpt_np,
       TRUE AS mpt_mismatch_null,
       CAST(1 AS BIGINT) AS gc_n,
       w + h AS lfmp_len,
       '0101000000000000000000F03F0000000000000040' AS hex_pt,
       -- polygon WKB: 1 + 4 + 4 ring count + 4 vtx count + 5 * 16 bytes
       CAST(186 AS BIGINT) AS hex_rect_len
FROM b
"""

# --------------------------------------- orientation and structure flags

def st_orientation_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ForcePolygonCW/CCW + ST_ForceRHR (exact WKT readback against
    the string the closed form predicts), ST_IsPolygonCW/CCW both ways,
    ST_IsCollection, ST_Zmflag (2D and Z), ST_ForceCollection,
    ST_IsValidReason (valid rect AND a bowtie built from the same ints),
    the ST_NumInteriorRing singular alias, and ST_Force3DZ."""
    lu = _lu(spark, sf_dir)
    rect = ("concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ',"
            " x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')")
    bowtie = ("concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y2, ', ',"
              " x2, ' ', y1, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')")
    mls = ("concat('MULTILINESTRING ((', x1, ' ', y1, ', ', x2, ' ', y1,"
           " '), (', x2, ' ', y1, ', ', x2, ' ', y2, '))')")
    cw = f"ST_ForcePolygonCW({rect})"
    f3dz = "ST_Force3DZ(concat('POINT (', x1, ' ', y1, ')'), 7D)"
    return chainrw.select_st(
        lu,
        "property_id",
        f"ST_AsText({cw}) AS cw_wkt",
        f"ST_AsText(ST_ForceRHR({rect})) AS rhr_wkt",
        f"ST_AsText(ST_ForcePolygonCCW({cw})) AS ccw_roundtrip",
        f"ST_IsPolygonCW({rect}) AS raw_is_cw",
        f"ST_IsPolygonCCW({rect}) AS raw_is_ccw",
        f"ST_IsPolygonCW({cw}) AS forced_is_cw",
        f"ST_IsPolygonCCW({cw}) AS forced_is_ccw",
        f"ST_Area({cw}) AS cw_area",
        f"ST_IsCollection({rect}) AS rect_is_coll",
        f"ST_IsCollection({mls}) AS mls_is_coll",
        f"ST_Zmflag({rect}) AS zm_2d",
        f"ST_Zmflag({f3dz}) AS zm_z",
        f"ST_Z({f3dz}) AS f3dz_z",
        f"ST_NumGeometries(ST_ForceCollection({mls})) AS fcoll_n",
        "ST_NumGeometries(ST_ForceCollection(concat('POINT (', x1, ' ',"
        " y1, ')'))) AS fcoll_pt_n",
        f"ST_IsValidReason({rect}) AS ivr_rect",
        f"ST_IsValidReason({bowtie}) AS ivr_bowtie",
        f"ST_NumInteriorRing({rect}) AS nir",
    )

ST_ORIENTATION_OPS_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()}
SELECT property_id,
       concat('POLYGON ((', x1, ' ', y2, ', ', x2, ' ', y2, ', ',
              x2, ' ', y1, ', ', x1, ' ', y1, ', ', x1, ' ', y2, '))')
           AS cw_wkt,
       concat('POLYGON ((', x1, ' ', y2, ', ', x2, ' ', y2, ', ',
              x2, ' ', y1, ', ', x1, ' ', y1, ', ', x1, ' ', y2, '))')
           AS rhr_wkt,
       -- CW reverses the fixture ring (starts at (x1,y2)); CCW reverses
       -- again, restoring vertex order but starting where CW started
       -- backwards: (x1,y1), (x2,y1), (x2,y2), (x1,y2)
       concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ',
              x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')
           AS ccw_roundtrip,
       FALSE AS raw_is_cw,
       TRUE AS raw_is_ccw,
       TRUE AS forced_is_cw,
       FALSE AS forced_is_ccw,
       CAST((x2 - x1) * (y2 - y1) AS DOUBLE) AS cw_area,
       FALSE AS rect_is_coll,
       TRUE AS mls_is_coll,
       CAST(0 AS BIGINT) AS zm_2d,
       CAST(2 AS BIGINT) AS zm_z,
       CAST(7 AS DOUBLE) AS f3dz_z,
       CAST(2 AS BIGINT) AS fcoll_n,
       CAST(1 AS BIGINT) AS fcoll_pt_n,
       'Valid Geometry' AS ivr_rect,
       'Self-intersection' AS ivr_bowtie,
       CAST(0 AS BIGINT) AS nir
FROM land_use
"""

# ------------------------------------ clearance / inscribed / 3D metrics

def st_clearance_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_MinimumClearance(+Line), ST_MaximumInscribedCircle (exact on
    rectangles: the polylabel seed cell already attains the bound),
    ST_3DDistance (point-point and segment-point with Z),
    ST_RotateX/ST_RotateY (quantized readback — the closed form uses
    cos pi = -1 exactly; the sin pi ~ 1e-16 residue is crushed by the
    1e6 quantizer), and ST_SimplifyVW on a scaled two-spike polyline
    whose drop order is known (spike areas 2s^2 < tol = 3s^2 < 10s^2)."""
    lu = _lu(spark, sf_dir)
    rect = ("concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ',"
            " x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')")
    zig = ("concat('LINESTRING (', x1, ' ', y1,"
           "', ', x1 + 2 * s, ' ', y1 + s,"
           "', ', x1 + 4 * s, ' ', y1,"
           "', ', x1 + 6 * s, ' ', y1 + 5 * s,"
           "', ', x1 + 8 * s, ' ', y1, ')')")
    mcl = f"ST_MinimumClearanceLine({rect})"
    mic = f"ST_MaximumInscribedCircle({rect})"
    pz = "concat('POINT Z (', x1, ' ', y1, ' ', x2 - x1, ')')"
    vw = f"ST_SimplifyVW({zig}, CAST(3 * s * s AS DOUBLE))"
    base = lu.selectExpr(
        "property_id", "x1", "y1", "x2", "y2",
        "1 + property_id % 3 AS s",
    )
    return chainrw.select_st(
        base,
        "property_id",
        f"ST_MinimumClearance({rect}) AS min_clear",
        f"ST_Length({mcl}) AS mcl_len",
        f"ST_AsText({mcl}) AS mcl_wkt",
        f"{mic}.radius AS mic_radius",
        f"CAST(round(ST_X({mic}.center) * 100) AS BIGINT) AS mic_cx_q",
        f"CAST(round(ST_Y({mic}.center) * 100) AS BIGINT) AS mic_cy_q",
        f"CAST(round(ST_X({mic}.nearest) * 100) AS BIGINT) AS mic_nx_q",
        f"CAST(round(ST_Y({mic}.nearest) * 100) AS BIGINT) AS mic_ny_q",
        "ST_3DDistance(concat('POINT Z (', x1, ' ', y1, ' 0)'),"
        " concat('POINT Z (', x2, ' ', y2, ' ', x2 - x1, ')')) AS d3_pp",
        "ST_3DDistance(concat('LINESTRING Z (', x1, ' ', y1, ' 0, ',"
        " x2, ' ', y1, ' 0)'),"
        " concat('POINT Z (', x1, ' ', y2, ' ', x2 - x1, ')')) AS d3_sp",
        f"CAST(round(ST_Y(ST_RotateX({pz}, pi())) * 1000000) AS BIGINT)"
        " AS rx_y_q",
        f"CAST(round(ST_Z(ST_RotateX({pz}, pi())) * 1000000) AS BIGINT)"
        " AS rx_z_q",
        f"CAST(round(ST_X(ST_RotateY({pz}, pi())) * 1000000) AS BIGINT)"
        " AS ry_x_q",
        f"CAST(round(ST_Z(ST_RotateY({pz}, pi())) * 1000000) AS BIGINT)"
        " AS ry_z_q",
        f"ST_NPoints({vw}) AS vw_np",
        # quantized: the engine folds per-segment hypots in path order,
        # the oracle factors s*(4 + 2*sqrt(29)) — ulp-different doubles
        f"CAST(round(ST_Length({vw}) * 1000000) AS BIGINT) AS vw_len_q",
    )

ST_CLEARANCE_OPS_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()},
b AS (
    SELECT property_id,
           CAST(x2 - x1 AS DOUBLE) AS w, CAST(y2 - y1 AS DOUBLE) AS h,
           CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
           CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2,
           CAST(1 + property_id % 3 AS DOUBLE) AS s
    FROM land_use
)
SELECT property_id,
       least(w, h) AS min_clear,
       least(w, h) AS mcl_len,
       -- vertex scan order: (x1,y1)->(x2,y1) at distance w precedes
       -- (x1,y1)->(x1,y2) at distance h; strict < keeps the first on tie
       CASE WHEN w <= h
            THEN concat('LINESTRING (', x1, ' ', y1, ', ', x2, ' ', y1, ')')
            ELSE concat('LINESTRING (', x1, ' ', y1, ', ', x1, ' ', y2, ')')
       END AS mcl_wkt,
       least(w, h) / 2 AS mic_radius,
       CAST(round((x1 + x2) * 50) AS BIGINT) AS mic_cx_q,
       CAST(round((y1 + y2) * 50) AS BIGINT) AS mic_cy_q,
       -- nearest boundary point: ring segment order bottom, right, top,
       -- left; strict < keeps the first minimum
       CASE WHEN h <= w THEN CAST(round((x1 + x2) * 50) AS BIGINT)
            ELSE x2 * 100 END AS mic_nx_q,
       CASE WHEN h <= w THEN y1 * 100
            ELSE CAST(round((y1 + y2) * 50) AS BIGINT) END AS mic_ny_q,
       sqrt(w * w + h * h + w * w) AS d3_pp,
       sqrt(h * h + w * w) AS d3_sp,
       -y1 * 1000000 AS rx_y_q,
       -(x2 - x1) * 1000000 AS rx_z_q,
       -x1 * 1000000 AS ry_x_q,
       -(x2 - x1) * 1000000 AS ry_z_q,
       CAST(4 AS BIGINT) AS vw_np,
       CAST(round(s * (4 + 2 * sqrt(29)) * 1000000) AS BIGINT) AS vw_len_q
FROM b
"""


# ------------------------------------------------------- SRID carriage

def st_srid_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_SRID / ST_SetSRID text carriage (r9): default SRID is 0,
    SetSRID stamps an 'SRID=n;' EWKT prefix, SetSRID(.., 0) clears it,
    ST_AsEWKT prints it, ST_GeomFromEWKT consumes it — and, the part
    that makes the carriage USEFUL, SRID-prefixed text flows through
    ordinary functions (ST_Area, ST_NPoints) unchanged, like PostGIS
    geometry whose SRID never affects coordinates."""
    lu = _lu(spark, sf_dir).where("property_id % 10 = 3")
    rect = ("concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ',"
            " x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')")
    return lu.selectExpr(
        "property_id",
        f"ST_SRID({rect}) AS srid_default",
        f"ST_SRID(ST_SetSRID({rect}, 3857 + property_id % 3)) AS srid_set",
        f"ST_SRID(ST_SetSRID(ST_SetSRID({rect}, 5880), 0)) AS srid_cleared",
        f"ST_AsEWKT(ST_SetSRID({rect}, 4326)) AS ewkt_out",
        f"ST_Area(ST_SetSRID({rect}, 3857)) AS area_through",
        f"CAST(ST_NPoints(ST_SetSRID({rect}, 10)) AS BIGINT) AS np_through",
        f"ST_AsText(ST_GeomFromEWKT(concat('SRID=31983;', {rect})))"
        " AS from_ewkt_wkt",
    )


ST_SRID_OPS_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()}
SELECT property_id,
       CAST(0 AS BIGINT) AS srid_default,
       CAST(3857 + property_id % 3 AS BIGINT) AS srid_set,
       CAST(0 AS BIGINT) AS srid_cleared,
       concat('SRID=4326;POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1,
              ', ', x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1,
              '))') AS ewkt_out,
       CAST((x2 - x1) * (y2 - y1) AS DOUBLE) AS area_through,
       CAST(5 AS BIGINT) AS np_through,
       concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ', x2,
              ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')
           AS from_ewkt_wkt
FROM land_use
WHERE property_id % 10 = 3
"""


# --------------------------------------------------------- KML / GML

def st_xml_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_AsKML / ST_AsGML exact-string emission, ST_GeomFromKML /
    ST_GeomFromGML round trips (including a hole — inner boundary — and
    a GML3 posList spelling), all closed-form on the rect ints."""
    lu = _lu(spark, sf_dir).where("property_id % 10 = 3")
    rect = ("concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ',"
            " x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')")
    mls = ("concat('MULTILINESTRING ((', x1, ' ', y1, ', ', x2, ' ', y1,"
           " '), (', x2, ' ', y1, ', ', x2, ' ', y2, '))')")
    poslist = ("concat('<gml:LineString><gml:posList>', x1, ' ', y1, ' ',"
               " x2, ' ', y1, ' ', x2, ' ', y2,"
               " '</gml:posList></gml:LineString>')")
    return lu.selectExpr(
        "property_id",
        "ST_AsKML(concat('POINT (', x1, ' ', y1, ')')) AS kml_pt",
        f"ST_AsGML({rect}) AS gml_rect",
        f"ST_AsText(ST_GeomFromKML(ST_AsKML({rect}))) AS kml_roundtrip",
        f"ST_AsText(ST_GeomFromGML(ST_AsGML({mls}))) AS gml_mls_roundtrip",
        f"ST_AsText(ST_GeomFromGML({poslist})) AS gml3_poslist",
        "ST_AsKML(concat('POINT Z (', x1, ' ', y1, ' 5)')) AS kml_ptz",
    )


ST_XML_OPS_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()}
SELECT property_id,
       concat('<Point><coordinates>', x1, ',', y1,
              '</coordinates></Point>') AS kml_pt,
       concat('<gml:Polygon><gml:outerBoundaryIs><gml:LinearRing>',
              '<gml:coordinates>',
              x1, ',', y1, ' ', x2, ',', y1, ' ', x2, ',', y2, ' ',
              x1, ',', y2, ' ', x1, ',', y1,
              '</gml:coordinates></gml:LinearRing></gml:outerBoundaryIs>',
              '</gml:Polygon>') AS gml_rect,
       concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ',
              x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')
           AS kml_roundtrip,
       concat('MULTILINESTRING ((', x1, ' ', y1, ', ', x2, ' ', y1,
              '), (', x2, ' ', y1, ', ', x2, ' ', y2, '))')
           AS gml_mls_roundtrip,
       concat('LINESTRING (', x1, ' ', y1, ', ', x2, ' ', y1, ', ',
              x2, ' ', y2, ')') AS gml3_poslist,
       concat('<Point><coordinates>', x1, ',', y1, ',5',
              '</coordinates></Point>') AS kml_ptz
FROM land_use
WHERE property_id % 10 = 3
"""


# ------------------------------------------------ noding / polygonize

def st_polygonize_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Node / ST_Polygonize (r9): a 3x3 grid of lines polygonizes
    into four cells (counts, per-cell and total areas, noded piece
    count and length all closed-form); a self-crossing bowtie path
    splits at its midpoint crossing into two triangles; nested squares
    exercise hole assignment with an exact-WKT readback of the
    outer-with-hole polygon.

    Runs on a 1-in-50 hash sample of the fixture (the
    st_geomcollection_ops precedent): each row costs ~9 full
    planar-arrangement builds (BuildArea added three), and the parity
    proof does not get stronger by repeating them 600k times at
    sf0.1."""
    lu = _lu(spark, sf_dir).where("property_id % 50 = 3")
    grid = ("concat('GEOMETRYCOLLECTION ("
            "LINESTRING (', x1, ' ', y1, ', ', x1, ' ', 2 * y2 - y1, '), "
            "LINESTRING (', x2, ' ', y1, ', ', x2, ' ', 2 * y2 - y1, '), "
            "LINESTRING (', 2 * x2 - x1, ' ', y1, ', ', 2 * x2 - x1, ' ', 2 * y2 - y1, '), "
            "LINESTRING (', x1, ' ', y1, ', ', 2 * x2 - x1, ' ', y1, '), "
            "LINESTRING (', x1, ' ', y2, ', ', 2 * x2 - x1, ' ', y2, '), "
            "LINESTRING (', x1, ' ', 2 * y2 - y1, ', ', 2 * x2 - x1, ' ', 2 * y2 - y1, '))')")
    bow = ("concat('LINESTRING (', x1, ' ', y1, ', ', x2, ' ', y2, ', ',"
           " x2, ' ', y1, ', ', x1, ' ', y2, ', ', x1, ' ', y1, ')')")
    nested = ("concat('GEOMETRYCOLLECTION ("
              "LINESTRING (', x1, ' ', y1, ', ', x1 + 8, ' ', y1, ', ',"
              " x1 + 8, ' ', y1 + 8, ', ', x1, ' ', y1 + 8, ', ', x1, ' ', y1, '), "
              "LINESTRING (', x1 + 2, ' ', y1 + 2, ', ', x1 + 4, ' ', y1 + 2, ', ',"
              " x1 + 4, ' ', y1 + 4, ', ', x1 + 2, ' ', y1 + 4, ', ', x1 + 2, ' ', y1 + 2, '))')")
    return chainrw.select_st(
        lu,
        "property_id",
        f"CAST(ST_NumGeometries(ST_Polygonize({grid})) AS BIGINT) AS n_cells",
        f"ST_Area(ST_GeometryN(ST_Polygonize({grid}), 0)) AS cell_area",
        f"ST_Area(ST_Polygonize({grid})) AS total_area",
        f"CAST(ST_NumGeometries(ST_Node({grid})) AS BIGINT) AS noded_n",
        f"ST_Length(ST_Node({grid})) AS noded_len",
        f"CAST(ST_NumGeometries(ST_Polygonize({bow})) AS BIGINT) AS bow_n",
        f"ST_Area(ST_Polygonize({bow})) AS bow_area",
        f"CAST(ST_NumGeometries(ST_Polygonize({nested})) AS BIGINT)"
        " AS nest_n",
        f"ST_AsText(ST_GeometryN(ST_Polygonize({nested}), 0)) AS nest_wkt",
        f"CAST(ST_NumInteriorRings(ST_GeometryN(ST_Polygonize({nested}),"
        " 0)) AS BIGINT) AS nest_holes",
        f"ST_AsText(ST_BuildArea({nested})) AS ba_nest_wkt",
        f"ST_Area(ST_BuildArea({nested})) AS ba_nest_area",
        "ST_AsText(ST_BuildArea(concat('GEOMETRYCOLLECTION ("
        "LINESTRING (', x1, ' ', y1, ', ', x2, ' ', y1, ', ', x2, ' ',"
        " y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '), "
        "LINESTRING (', x1, ' ', y1, ', ', x2, ' ', y2, '))')))"
        " AS ba_diag_wkt",
    )


ST_POLYGONIZE_OPS_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()},
b AS (
    SELECT property_id,
           CAST(x2 - x1 AS DOUBLE) AS w, CAST(y2 - y1 AS DOUBLE) AS h,
           x1, y1, x2, y2
    FROM land_use
    WHERE property_id % 50 = 3
)
SELECT property_id,
       CAST(4 AS BIGINT) AS n_cells,
       w * h AS cell_area,
       4 * (w * h) AS total_area,
       CAST(12 AS BIGINT) AS noded_n,
       6 * (w + h) AS noded_len,
       CAST(2 AS BIGINT) AS bow_n,
       w * h / 2 AS bow_area,
       CAST(2 AS BIGINT) AS nest_n,
       concat('POLYGON ((', x1, ' ', y1, ', ', x1 + 8, ' ', y1, ', ',
              x1 + 8, ' ', y1 + 8, ', ', x1, ' ', y1 + 8, ', ',
              x1, ' ', y1, '), (',
              x1 + 2, ' ', y1 + 2, ', ', x1 + 2, ' ', y1 + 4, ', ',
              x1 + 4, ' ', y1 + 4, ', ', x1 + 4, ' ', y1 + 2, ', ',
              x1 + 2, ' ', y1 + 2, '))') AS nest_wkt,
       CAST(1 AS BIGINT) AS nest_holes,
       -- two nested rings build a DONUT: the inner face sits at odd
       -- depth (even-odd rule) and is unfilled
       concat('POLYGON ((', x1, ' ', y1, ', ', x1 + 8, ' ', y1,
              ', ', x1 + 8, ' ', y1 + 8, ', ', x1, ' ', y1 + 8, ', ',
              x1, ' ', y1, '), (',
              x1 + 2, ' ', y1 + 2, ', ', x1 + 2, ' ', y1 + 4, ', ',
              x1 + 4, ' ', y1 + 4, ', ', x1 + 4, ' ', y1 + 2, ', ',
              x1 + 2, ' ', y1 + 2, '))') AS ba_nest_wkt,
       CAST(60 AS DOUBLE) AS ba_nest_area,
       concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ', x2,
              ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')
           AS ba_diag_wkt
FROM b
"""


# ------------------------------------------------- misc scalar batch 2

def st_collect_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Collect (array scalar form) homogeneous + mixed, ST_CoordDim,
    ST_OrderingEquals (ring rotation matters, unlike ST_Equals),
    ST_Points (duplicates preserved), ST_MemSize (WKB byte length) —
    all closed-form on the rect ints."""
    lu = _lu(spark, sf_dir).where("property_id % 10 = 3")
    rect = ("concat('POLYGON ((', x1, ' ', y1, ', ', x2, ' ', y1, ', ',"
            " x2, ' ', y2, ', ', x1, ' ', y2, ', ', x1, ' ', y1, '))')")
    rect_rot = ("concat('POLYGON ((', x2, ' ', y1, ', ', x2, ' ', y2,"
                " ', ', x1, ' ', y2, ', ', x1, ' ', y1, ', ', x2, ' ',"
                " y1, '))')")
    return lu.selectExpr(
        "property_id",
        "ST_Collect(array(concat('POINT (', x1, ' ', y1, ')'), NULL,"
        " concat('POINT (', x2, ' ', y2, ')'))) AS coll_mp",
        "ST_GeometryType(ST_Collect(array(concat('POINT (', x1, ' ',"
        " y1, ')'), concat('LINESTRING (', x1, ' ', y1, ', ', x2, ' ',"
        " y2, ')')))) AS coll_mixed_type",
        f"CAST(ST_CoordDim({rect}) AS BIGINT) AS cd_2d",
        "CAST(ST_CoordDim(concat('POINT Z (', x1, ' ', y1, ' 4)'))"
        " AS BIGINT) AS cd_3d",
        f"ST_OrderingEquals({rect}, {rect}) AS oeq_same",
        f"ST_OrderingEquals({rect}, {rect_rot}) AS oeq_rotated",
        f"ST_Equals({rect}, {rect_rot}) AS eq_rotated",
        f"CAST(ST_NPoints(ST_Points({rect})) AS BIGINT) AS pts_n",
        f"ST_AsText(ST_Points(concat('LINESTRING (', x1, ' ', y1, ', ',"
        " x2, ' ', y2, ')'))) AS pts_line",
        f"ST_MemSize({rect}) AS memsize_rect",
        "ST_MemSize(concat('POINT (', x1, ' ', y1, ')')) AS memsize_pt",
    )


ST_COLLECT_OPS_ORACLE = f"""
WITH {fixtures.LAND_USE_CTE.strip()}
SELECT property_id,
       concat('MULTIPOINT (', x1, ' ', y1, ', ', x2, ' ', y2, ')')
           AS coll_mp,
       'ST_GeometryCollection' AS coll_mixed_type,
       CAST(2 AS BIGINT) AS cd_2d,
       CAST(3 AS BIGINT) AS cd_3d,
       TRUE AS oeq_same,
       FALSE AS oeq_rotated,
       TRUE AS eq_rotated,
       CAST(5 AS BIGINT) AS pts_n,
       concat('MULTIPOINT (', x1, ' ', y1, ', ', x2, ' ', y2, ')')
           AS pts_line,
       -- WKB polygon: 1 + 4 + 4 rings + 4 count + 5 * 16 coord bytes
       CAST(93 AS BIGINT) AS memsize_rect,
       CAST(21 AS BIGINT) AS memsize_pt
FROM land_use
WHERE property_id % 10 = 3
"""
