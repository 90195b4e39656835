"""functions/table.py: one row per SQL name.

No Spark. The registered UDFs are driven through `.func`, the way
Spark's Arrow batches reach them: a NULL string, binary or array
argument arrives as None, a NULL number as NaN in a float column.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import geomb as GB
from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S
from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import table as T
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT

P, P2, P3 = "POINT (1 2)", "POINT (4 6)", "POINT (4 2)"
PZ, PZ2 = "POINT Z (1 2 3)", "POINT Z (4 6 8)"
L, L2 = "LINESTRING (0 0, 3 4, 6 0)", "LINESTRING (0 1, 3 5, 6 1)"
RING = "LINESTRING (0 0, 4 0, 4 4, 0 0)"
A = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
B = "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"
HOLED = ("POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0),"
         " (5 5, 10 5, 10 10, 5 10, 5 5))")
MP = "MULTIPOINT (0 0, 4 0, 2 3, 1 1)"
MLS = "MULTILINESTRING ((0 0, 1 0), (1 0, 1 1))"
MPOLY = ("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)),"
         " ((5 5, 6 5, 6 6, 5 6, 5 5)))")
GC = "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 3 4))"

#: SQL name -> the arguments of one valid row
ARGS = {
    "ST_GeomFromWKT": (A,), "ST_GeomFromText": (A,), "ST_AsText": (A,),
    "ST_MakeValid": (A,), "ST_Normalize": (A,), "ST_Buffer": (A, 1.0),
    "ST_AsBinary": (A,), "ST_GeomFromWKB": (GT.to_wkb(GT.parse_wkt(P)),),
    "ST_AsEWKT": (A,), "ST_GeomFromEWKT": ("SRID=4326;" + P,),
    "ST_AsGeoJSON": (A,),
    "ST_GeomFromGeoJSON": ('{"type": "Point", "coordinates": [1, 2]}',),
    "ST_GeoHash": (P, 5), "ST_GeomFromGeoHash": ("u4pru",),
    "ST_PointFromGeoHash": ("u4pru",), "ST_AsKML": (A,), "ST_AsGML": (A,),
    "ST_GeomFromGML": ("<gml:Point><gml:coordinates>1,2</gml:coordinates>"
                       "</gml:Point>",),
    "ST_GeomFromKML": ("<Point><coordinates>1,2</coordinates></Point>",),
    "ST_AsHEXEWKB": (A,), "ST_SRID": (A,), "ST_SetSRID": (A, 4326),
    "ST_Area": (A,), "ST_NPoints": (A,), "ST_NumPoints": (L,),
    "ST_Length": (L,), "ST_Centroid": (A,), "ST_Coords": (A,),
    "ST_Transform": (P, "EPSG:4326", "EPSG:3857"), "ST_Envelope": (A,),
    "ST_BufferRound": (A, 1.0, 8), "ST_Rotate": (A, 0.5),
    "ST_Scale": (A, 2.0, 3.0), "ST_Translate": (A, 1.0, 2.0),
    "ST_Affine": (A, 1.0, 0.0, 0.0, 1.0, 2.0, 3.0),
    "ST_SnapToGrid": (A, 0.5), "ST_ReducePrecision": (A, 1),
    "ST_Expand": (A, 1.0),
    "ST_Intersects": (A, B), "ST_Disjoint": (A, B), "ST_Touches": (A, B),
    "ST_Overlaps": (A, B), "ST_Equals": (A, B), "ST_Crosses": (L, A),
    "ST_Contains": (A, P), "ST_Within": (P, A), "ST_Covers": (A, P),
    "ST_CoveredBy": (P, A), "ST_DWithin": (A, B, 1.0), "ST_Relate": (A, B),
    "ST_OrderingEquals": (A, B),
    "ST_Distance": (A, B), "ST_ClippedArea": (A, B), "ST_Perimeter": (A,),
    "ST_Angle": (P, P2, P3), "ST_Azimuth": (P, P2),
    "ST_MaxDistance": (A, B), "ST_HausdorffDistance": (L, L2),
    "ST_FrechetDistance": (L, L2), "ST_3DDistance": (PZ, PZ2),
    "ST_DistanceSphere": (P, P2), "ST_DistanceSpheroid": (P, P2),
    "ST_AreaSpheroid": (A,), "ST_LengthSpheroid": (L,),
    "ST_MinimumBoundingRadius": (A,), "ST_MinimumClearance": (A,),
    "ST_LineLocatePoint": (L, P), "ST_MemSize": (A,), "ST_Degrees": (1.0,),
    "ST_X": (P,), "ST_Y": (P,), "ST_Z": (PZ,), "ST_XMin": (A,),
    "ST_XMax": (A,), "ST_YMin": (A,), "ST_YMax": (A,), "ST_ZMin": (PZ,),
    "ST_ZMax": (PZ,), "ST_MMin": (A,), "ST_MMax": (A,), "ST_NDims": (A,),
    "ST_CoordDim": (A,), "ST_HasZ": (A,), "ST_Zmflag": (A,),
    "ST_GeometryType": (A,), "ST_Dimension": (A,), "ST_IsEmpty": (A,),
    "ST_IsValid": (A,), "ST_IsValidReason": (A,), "ST_IsClosed": (L,),
    "ST_IsSimple": (L,), "ST_IsRing": (RING,), "ST_IsCollection": (A,),
    "ST_IsPolygonCW": (A,), "ST_IsPolygonCCW": (A,),
    "ST_CrossesDateLine": (A,), "ST_NumGeometries": (MP,),
    "ST_NumInteriorRings": (HOLED,), "ST_NumInteriorRing": (HOLED,),
    "ST_NRings": (A,), "ST_BestSRID": (P,), "ST_GeometryN": (MP, 1),
    "ST_PointN": (L, 1), "ST_StartPoint": (L,), "ST_EndPoint": (L,),
    "ST_ExteriorRing": (A,), "ST_InteriorRingN": (HOLED, 1),
    "ST_Boundary": (A,), "ST_Dump": (MP,), "ST_DumpPoints": (L,),
    "ST_Points": (L,),
    "ST_Point": (1.0, 2.0), "ST_MakePoint": (1.0, 2.0),
    "ST_PointZ": (1.0, 2.0, 3.0), "ST_MakeLine": (P, P2),
    "ST_MakeEnvelope": (0.0, 0.0, 1.0, 1.0),
    "ST_PolygonFromEnvelope": (0.0, 0.0, 1.0, 1.0),
    "ST_PointFromText": ("1,2", ","),
    "ST_LineStringFromText": ("0,0,1,1", ","), "ST_LineFromText": (L,),
    "ST_MLineFromText": (MLS,), "ST_MPolyFromText": (MPOLY,),
    "ST_MPointFromText": (MP,), "ST_GeomCollFromText": (GC,),
    "ST_LineFromMultiPoint": (MP,), "ST_Polygon": (RING,),
    "ST_MakePolygon": (RING,), "ST_Collect": ([P, P2],), "ST_Multi": (P,),
    "ST_ForceCollection": (P,), "ST_Force2D": (PZ,),
    "ST_Force3D": (P, 5.0), "ST_Force3DZ": (P, 5.0),
    "ST_ForcePolygonCW": (A,), "ST_ForceRHR": (A,),
    "ST_ForcePolygonCCW": (A,), "ST_FlipCoordinates": (P,),
    "ST_Reverse": (L,), "ST_ShiftLongitude": (P,),
    "ST_RotateX": (A, 0.5), "ST_RotateY": (A, 0.5),
    "ST_Project": (P, 100.0, 0.5), "ST_TileEnvelope": (1, 0, 0),
    "ST_Square": (1.0, 0, 0), "ST_Hexagon": (1.0, 0, 0),
    "ST_Intersection": (A, B), "ST_Union": (A, B),
    "ST_Difference": (A, B), "ST_SymDifference": (A, B),
    "ST_UnaryUnion": (MPOLY,), "ST_Split": ("LINESTRING (0 0, 4 0)",
                                            "POINT (2 0)"),
    "ST_Node": (MLS,), "ST_Polygonize": (RING,), "ST_BuildArea": (A,),
    "ST_ConvexHull": (A,), "ST_ConcaveHull": (MP, 0.5),
    "ST_Simplify": (L, 0.5), "ST_SimplifyPreserveTopology": (L, 0.5),
    "ST_SimplifyVW": (L, 0.5), "ST_ShortestLine": (P, B),
    "ST_LongestLine": (P, B), "ST_ClosestPoint": (A, P2),
    "ST_BoundingDiagonal": (A,), "ST_PointOnSurface": (A,),
    "ST_GeometricMedian": (MP,), "ST_MinimumBoundingCircle": (A,),
    "ST_MinimumClearanceLine": (A,), "ST_LineInterpolatePoint": (L, 0.5),
    "ST_LineSubstring": (L, 0.2, 0.8), "ST_LineMerge": (MLS,),
    "ST_Segmentize": (L, 1.0), "ST_SegmentizeNPoints": (L, 1.0),
    "ST_CollectionExtract": (GC, 1), "ST_Subdivide": (A, 8),
    "ST_SubDivideExplode": (A, 8), "ST_DelaunayTriangles": (MP,),
    "ST_VoronoiPolygons": (MP,), "ST_TriangulatePolygon": (A,),
    "ST_GeneratePoints": (A, 3, 7), "ST_AddPoint": (L, P, 1),
    "ST_RemovePoint": (L, 1), "ST_SetPoint": (L, 0, P),
    "ST_RemoveRepeatedPoints": (L,), "ST_Snap": (L, L2, 0.5),
    "ST_SimplifyLine": ([0.0, 1.0, 2.0], [0.0, 0.1, 0.0], 0.5),
    "ST_MaximumInscribedCircle": (A,),
}

#: (SQL name, argument position or None for all) -> why a NULL there
#: does not give NULL
NULL_EXEMPT = {
    ("ST_Collect_Aggr", None): "an aggregate skips NULL members",
    ("ST_Envelope_Aggr", None): "an aggregate skips NULL members",
    ("ST_Union_Aggr", None): "an aggregate skips NULL members",
    ("ST_Intersection_Aggr", None): "an aggregate skips NULL members",
    ("ST_GeneratePoints", 2): "a NULL seed means seed 0",
}


def _is_null(v) -> bool:
    return v is None or v is pd.NA or (isinstance(v, float) and v != v)


def _column(v, null: bool) -> pd.Series:
    """Row 0 holds v, row 1 holds v or, if `null`, the NULL Spark passes
    for v's type."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return pd.Series([v, np.nan if null else v])
    return pd.Series([v, None if null else v], dtype=object)


def test_every_registered_name_has_a_sample_row():
    assert set(ARGS) | {n for n, _ in NULL_EXEMPT} == set(S.udf_table())


@pytest.mark.parametrize("name", sorted(ARGS))
def test_null_in_any_argument_gives_null(name):
    """Every argument in turn: a NULL there makes the row NULL, and the
    valid row next to it still computes. Struct results are NULL in
    every field."""
    fn = S.udf_table()[name]
    args = ARGS[name]
    for k in range(len(args)):
        if (name, k) in NULL_EXEMPT:
            continue
        out = fn.func(*(_column(v, i == k) for i, v in enumerate(args)))
        got = (out.iloc[1].tolist() if isinstance(out, pd.DataFrame)
               else [out.iloc[1]])
        assert all(map(_is_null, got)), (name, k, got)


def test_null_exemptions_are_real():
    """An exemption names a NULL that really gives a value."""
    fn = S.udf_table()["ST_GeneratePoints"]
    out = fn.func(*(_column(v, i == 2) for i, v in
                    enumerate(ARGS["ST_GeneratePoints"])))
    assert out.iloc[1] == S._generate_points(A, 3, 0)


def test_buffer_null_distance_gives_null():
    """A NULL distance arrives as None (an object column) or as NaN (a
    DOUBLE column): both give NULL, not an error or NaN coordinates."""
    fn = S.udf_table()["ST_Buffer"].func
    w = pd.Series([A, A], dtype=object)
    assert fn(w, pd.Series([1.0, None], dtype=object)).tolist()[1] is None
    got = fn(w, pd.Series([1.0, np.nan])).tolist()
    assert got[1] is None and got[0] == S._buffer(A, 1.0)
    assert S._buffer(A, None) is None and S._buffer(A, math.nan) is None


def test_a_sql_name_appears_once():
    """The table rejects a repeated name, in any case, when it is built;
    the engine's own table has none."""
    names = [n.lower() for r in T.ROWS for n in r.names]
    assert len(names) == len(set(names))
    area = T.row("ST_Area", T.F64, S._area, body=GB._area)
    for dup in ("ST_Area", "st_AREA"):
        with pytest.raises(ValueError, match="appears twice"):
            T.build([area, T.row(dup, T.F64, S._area)])
    with pytest.raises(ValueError, match="appears twice"):
        T.build([T.row("ST_X st_x", T.F64, lambda w: S._st_xy(w, 0))])


def test_aliases_share_one_udf_named_after_the_first():
    """An alias is the same UDF object, so the fuser keys one node for
    both spellings; its function is named after the row's first name."""
    t = S.udf_table()
    for r in T.ROWS:
        fns = {id(t[n]) for n in r.names}
        assert len(fns) == 1, r.names
        if r.udf is None:
            assert t[r.names[0]].func.__name__ == r.names[0].lower()


def test_carrier_and_adapter_set_are_read_from_the_rows():
    bodies = {n.lower() for r in T.ROWS if r.body for n in r.names}
    assert set(T.CARRIER) == bodies
    adapted = {r.names[0] for r in T.ROWS if r.adapted}
    assert "ST_Area" in adapted and "ST_X" not in adapted
    assert "ST_Distance" not in adapted      # its lane runs the kernel
