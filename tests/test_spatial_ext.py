"""r9 Sedona name batch (functions/spatial_ext.py): helper-level edge
cases the rect-fixture registry queries don't reach — holes, collections,
Z preservation, degenerate inputs, the polylabel hole case, VW ring
collapse, 3D segment-segment geometry."""

import math

import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial_ext as X

RECT = "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))"
HOLED = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"


class TestConstructors:
    def test_polygon_from_envelope(self):
        assert X._polygon_from_envelope(1, 2, 4, 6) == \
            "POLYGON ((1 2, 4 2, 4 6, 1 6, 1 2))"
        assert X._polygon_from_envelope(None, 2, 4, 6) is None

    def test_point_from_text_delimiters(self):
        assert X._point_from_text("3.5,7.25", ",") == "POINT (3.5 7.25)"
        assert X._point_from_text("3.5|7.25", "|") == "POINT (3.5 7.25)"
        assert X._point_from_text("1,2,3", ",") is None  # not a pair

    def test_linestring_from_text(self):
        assert X._linestring_from_text("0,0,3,4", ",") == \
            "LINESTRING (0 0, 3 4)"
        assert X._linestring_from_text("0,0,3", ",") is None  # odd count
        assert X._linestring_from_text("0,0", ",") is None    # 1 point

    def test_typed_gates(self):
        assert X._typed_from_text("LINESTRING (0 0, 1 1)",
                                  "LINESTRING") is not None
        assert X._typed_from_text(RECT, "LINESTRING") is None
        # Z input passes the gate (basekind match)
        assert X._typed_from_text("LINESTRING Z (0 0 1, 1 1 2)",
                                  "LINESTRING") == \
            "LINESTRING Z (0 0 1, 1 1 2)"

    def test_line_from_multipoint(self):
        assert X._line_from_multipoint("MULTIPOINT ((0 0), (2 3))") == \
            "LINESTRING (0 0, 2 3)"
        assert X._line_from_multipoint("MULTIPOINT ((0 0))") is None
        assert X._line_from_multipoint(RECT) is None


class TestOrientation:
    def test_holes_get_opposite_orientation(self):
        cw = X._force_orientation(HOLED, exterior_ccw=False)
        assert X._is_polygon_oriented(cw, exterior_ccw=False)
        assert not X._is_polygon_oriented(cw, exterior_ccw=True)
        ccw = X._force_orientation(cw, exterior_ccw=True)
        assert X._is_polygon_oriented(ccw, exterior_ccw=True)
        # area is orientation-invariant
        from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT
        assert GT.area_of(GT.parse_wkt(cw)) == \
            GT.area_of(GT.parse_wkt(HOLED)) == 96.0

    def test_non_polygon_unchanged_and_trivially_true(self):
        ls = "LINESTRING (0 0, 1 1)"
        assert X._force_orientation(ls, exterior_ccw=False) == ls
        assert X._is_polygon_oriented(ls, exterior_ccw=False) is True

    def test_z_preserved_through_forcing(self):
        z = "POLYGON Z ((0 0 5, 4 0 5, 4 3 5, 0 3 5, 0 0 5))"
        out = X._force_orientation(z, exterior_ccw=False)
        assert out.startswith("POLYGON Z") and "5" in out


class TestFlags:
    def test_is_collection(self):
        assert X._is_collection("GEOMETRYCOLLECTION (POINT (1 2))")
        assert X._is_collection("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)))")
        assert not X._is_collection(RECT)

    def test_force_collection_multi_explodes(self):
        out = X._force_collection(
            "MULTILINESTRING ((0 0, 1 0), (2 0, 3 0))")
        assert out == ("GEOMETRYCOLLECTION (LINESTRING (0 0, 1 0), "
                       "LINESTRING (2 0, 3 0))")
        gc = "GEOMETRYCOLLECTION (POINT (1 2))"
        assert X._force_collection(gc) == gc

    def test_zmflag(self):
        assert X._zmflag("POINT (1 2)") == 0
        assert X._zmflag("POINT Z (1 2 3)") == 2

    def test_is_valid_reason_degenerate_ring(self):
        assert X._is_valid_reason(
            "POLYGON ((0 0, 1 0, 1 0, 0 0, 0 0))") == \
            "Too few points in geometry component"
        assert X._is_valid_reason(RECT) == "Valid Geometry"
        assert X._is_valid_reason(
            "POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))") == "Self-intersection"
        assert X._is_valid_reason("LINESTRING (0 0, 1 1)") == \
            "Valid Geometry"


class TestClearance:
    def test_rect_clearance(self):
        assert X._minimum_clearance(RECT) == 3.0
        assert X._minimum_clearance_line(RECT) == "LINESTRING (0 0, 0 3)"

    def test_single_point_undefined(self):
        assert X._minimum_clearance("POINT (1 2)") is None
        assert X._minimum_clearance_line("POINT (1 2)") is None

    def test_narrow_neck_beats_vertices(self):
        # vertex (5, 1) sits 1 unit above segment (0 0, 10 0): closer
        # than any vertex pair
        wkt = "LINESTRING (0 0, 10 0, 5 1)"
        assert X._minimum_clearance(wkt) == 1.0
        assert X._minimum_clearance_line(wkt) == "LINESTRING (5 1, 5 0)"


class TestInscribedCircle:
    def test_rect_exact(self):
        center, nearest, radius = X._maximum_inscribed_circle(
            "POLYGON ((0 0, 8 0, 8 6, 0 6, 0 0))")
        assert center == "POINT (4 3)" and radius == 3.0
        assert nearest == "POINT (4 0)"

    def test_holed_square_avoids_hole(self):
        center, _n, radius = X._maximum_inscribed_circle(HOLED)
        from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT
        cx, cy = GT.parse_wkt(center)[1][0]
        # center must be inside the polygon, outside the hole, and the
        # radius must not reach the hole or the boundary
        assert not (4 <= cx <= 6 and 4 <= cy <= 6)
        assert radius > 2.0  # better than trivial placements
        d_hole = math.hypot(max(4 - cx, 0, cx - 6), max(4 - cy, 0, cy - 6))
        d_edge = min(cx, cy, 10 - cx, 10 - cy)
        assert radius <= min(d_hole, d_edge) + 1e-9

    def test_non_areal_none(self):
        assert X._maximum_inscribed_circle("POINT (1 2)") is None


class Test3D:
    def test_point_point(self):
        assert X._distance3d("POINT Z (0 0 0)", "POINT Z (1 2 2)") == 3.0
        # Z defaults to 0 for 2D operands
        assert X._distance3d("POINT (0 0)", "POINT Z (0 0 5)") == 5.0

    def test_skew_segments(self):
        # classic skew pair: (0,0,0)-(1,0,0) and (0,1,1)-(1,1,1) -> sqrt(2)
        d = X._distance3d("LINESTRING Z (0 0 0, 1 0 0)",
                          "LINESTRING Z (0 1 1, 1 1 1)")
        assert d == pytest.approx(math.sqrt(2.0))

    def test_crossing_segments_zero(self):
        d = X._distance3d("LINESTRING Z (0 0 0, 2 2 0)",
                          "LINESTRING Z (0 2 0, 2 0 0)")
        assert d == pytest.approx(0.0, abs=1e-12)

    def test_areal_raises(self):
        with pytest.raises(NotImplementedError):
            X._distance3d(RECT, "POINT (0 0)")


class TestRotations:
    def test_rotate_x_half_turn(self):
        out = X._rotate_x("POINT Z (1 2 3)", math.pi)
        from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT
        x, y, z = GT.parse_wkt(out)[1][0]
        assert x == 1.0
        assert y == pytest.approx(-2.0) and z == pytest.approx(-3.0)

    def test_rotate_y_quarter_turn(self):
        out = X._rotate_y("POINT Z (1 0 0)", math.pi / 2)
        from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT
        x, y, z = GT.parse_wkt(out)[1][0]
        assert x == pytest.approx(0.0, abs=1e-15)
        assert z == pytest.approx(-1.0)

    def test_2d_input_gains_z(self):
        out = X._rotate_x("POINT (1 2)", 0.0)
        assert out == "POINT Z (1 2 0)"


class TestHexEwkb:
    def test_point_known_bytes(self):
        assert X._as_hexewkb("POINT (1 2)") == \
            "0101000000000000000000F03F0000000000000040"

    def test_roundtrips_through_wkb_parser(self):
        from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT
        h = X._as_hexewkb(RECT)
        assert GT.to_wkt(GT.parse_wkb(bytes.fromhex(h))) == RECT


class TestSimplifyVW:
    def test_drop_order_smallest_first(self):
        # spike areas 2 and 10; tol 3 removes only the small one
        out = X._simplify_vw("LINESTRING (0 0, 2 1, 4 0, 6 5, 8 0)", 3.0)
        assert out == "LINESTRING (0 0, 4 0, 6 5, 8 0)"

    def test_endpoints_pinned(self):
        out = X._simplify_vw("LINESTRING (0 0, 1 100, 2 0)", 1e9)
        assert out == "LINESTRING (0 0, 2 0)"

    def test_hole_collapse_drops_ring(self):
        # tiny hole (area 1) collapses under tol 10; shell survives
        out = X._simplify_vw(
            "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0),"
            " (4 4, 5 4, 5 5, 4 5, 4 4))", 10.0)
        assert "4 4" not in out and out.startswith("POLYGON")

    def test_shell_collapse_degenerates(self):
        assert X._simplify_vw(
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", 1e9) == "POLYGON EMPTY"

    def test_puntal_unchanged(self):
        assert X._simplify_vw("POINT (1 2)", 5.0) == "POINT (1 2)"


class TestInscribedCircleRectLane:
    def test_lane_matches_general_path(self, monkeypatch):
        # the axis-rect lane must be answer-identical to the quadtree:
        # force the general path by disabling the detector
        import random
        rng = random.Random(7)
        for _ in range(20):
            x1, y1 = rng.randint(0, 90), rng.randint(0, 90)
            w, h = rng.randint(1, 10), rng.randint(1, 10)
            wkt = (f"POLYGON (({x1} {y1}, {x1 + w} {y1}, {x1 + w} {y1 + h},"
                   f" {x1} {y1 + h}, {x1} {y1}))")
            fast = X._maximum_inscribed_circle(wkt)
            X._maximum_inscribed_circle.cache_clear()
            monkeypatch.setattr(X, "_is_axis_rect", lambda _p: False)
            slow = X._maximum_inscribed_circle(wkt)
            X._maximum_inscribed_circle.cache_clear()
            monkeypatch.undo()
            assert fast == slow, wkt


def test_srid_carriage(spark):
    """r9 SRID carriage: SetSRID stamps the EWKT prefix, SRID reads it
    (0 default), prefixed text flows through ordinary functions, and
    both parsers reject a malformed prefix."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions,
    )

    register_spatial_functions(spark)
    r = spark.sql("""
        SELECT ST_SRID('POINT (1 2)') AS s0,
               ST_SetSRID('POINT (1 2)', 4326) AS stamped,
               ST_SRID(ST_SetSRID('POINT (1 2)', 4326)) AS s1,
               ST_SRID(ST_SetSRID(ST_SetSRID('POINT (1 2)', 9), 0)) AS s2,
               ST_Area(ST_SetSRID(
                   'POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))', 3857)) AS a,
               ST_AsEWKT(ST_SetSRID('POINT (1 2)', 31983)) AS e,
               ST_X(ST_Centroid('srid=5880;POINT (7 8)')) AS cx
    """).collect()[0]
    assert r["s0"] == 0
    assert r["stamped"] == "SRID=4326;POINT (1 2)"
    assert r["s1"] == 4326
    assert r["s2"] == 0
    assert r["a"] == 12.0
    assert r["e"] == "SRID=31983;POINT (1 2)"
    assert r["cx"] == 7.0

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geom as G
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT

    with pytest.raises(G.GeomError):
        GT.parse_wkt("SRID=4326 POINT (1 2)")
    assert GT.parse_wkt("SRID=4326;POINT (1 2)") == ("POINT", [(1.0, 2.0)])
    assert G.parse_wkt("SRID=10; POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))") \
        == G.parse_wkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")


def test_kml_gml_roundtrips():
    """r9 XML serialization: WKT -> KML/GML -> WKT is the identity for
    every supported type (incl. holes, Z points, collections); GML3
    posList and namespace-prefixed input parse; malformed XML raises."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial_ext as SX
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geom as G

    cases = [
        "POINT (1 2)",
        "POINT Z (1 2 3)",
        "LINESTRING (0 0, 4 0, 4 3)",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 3 2, 3 3, 2 3, 2 2))",
        "MULTIPOINT (1 2, 3 4)",
        "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)),"
        " ((10 10, 12 10, 12 12, 10 12, 10 10)))",
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
    ]
    for w in cases:
        assert SX._geom_from_xml(SX._as_kml(w)) == w, w
        assert SX._geom_from_xml(SX._as_gml(w)) == w, w
    assert SX._geom_from_xml(
        "<gml:LineString><gml:posList>0 0 5 0</gml:posList>"
        "</gml:LineString>") == "LINESTRING (0 0, 5 0)"
    with pytest.raises(G.GeomError):
        SX._geom_from_xml("<Point><coordinates>1</coordinates></Point>")
    with pytest.raises(G.GeomError):
        SX._geom_from_xml("<Point><coordinates>1,2")
    with pytest.raises(G.GeomError):
        SX._geom_from_xml("<Banana/>")


def test_xml_and_srid_error_edges():
    """Edge hardening: mixed 2D/3D XML coordinate tuples and a
    non-numeric SRID both surface as GeomError at the parse edge, not
    as raw IndexError/ValueError from deeper layers."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial_ext as SX
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel.geom import GeomError

    with pytest.raises(GeomError):
        SX._geom_from_xml(
            "<LineString><coordinates>1,2,3 4,5</coordinates>"
            "</LineString>")
    with pytest.raises(GeomError):
        SX._srid("SRID=abc;POINT (1 2)")
    assert SX._geom_from_xml(
        "<LineString><coordinates>1,2,3 4,5,6</coordinates>"
        "</LineString>") == "LINESTRING Z (1 2 3, 4 5 6)"
    assert SX._srid("srid=31983;POINT (1 2)") == 31983


def _fused_equals_composed(spark, df, exprs):
    """The projection fuser (chainrw.select_st) returns the rows the same
    expressions give through plain selectExpr, from ONE fused Python
    node."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import chainrw as CR
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions,
    )

    register_spatial_functions(spark)
    fused = CR.select_st(df, *exprs)
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [fused(") == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    got = sorted(map(tuple, fused.collect()))
    assert got == sorted(map(tuple, df.selectExpr(*exprs).collect()))
    return got


def test_r14_fused_struct_udfs_equal_composition(spark):
    """The multi-consumer ST_ sweep heavies (the maximum inscribed
    circle and its point coordinates, the clearance trio, a rotated
    point's coordinates, a simplified line's measures) fused by the
    projection fuser must equal the unfused compositions value-for-value
    on the rect lane, a slow-path L-shape, a POINT Z rotation input, and
    NULL rows."""
    rows = [
        (0, "POLYGON ((10 10, 60 10, 60 40, 10 40))",           # rect lane
         "POINT Z (3 4 5)",
         "LINESTRING (0 0, 2 0, 2 1, 4 1, 4 0, 6 5, 8 0)"),
        (1, "POLYGON ((0 0, 40 0, 40 20, 20 20, 20 40, 0 40))",  # L-shape
         "POINT Z (-7 2.5 0)",
         "LINESTRING (0 0, 1 1)"),
        (2, None, None, None),                                  # NULL row
        (3, "POLYGON ((5 5, 9 5, 9 9, 5 9, 5 5))",              # closed rect
         "POINT (1 2)",                                         # 2D: z null
         "LINESTRING (0 0, 3 0, 3 3)"),
    ]
    df = spark.createDataFrame(rows, "id int, g string, p string, l string")
    got = _fused_equals_composed(spark, df, [
        "id",
        "ST_MaximumInscribedCircle(g).radius AS mic_r",
        "ST_X(ST_MaximumInscribedCircle(g).center) AS mic_cx",
        "ST_Y(ST_MaximumInscribedCircle(g).center) AS mic_cy",
        "ST_X(ST_MaximumInscribedCircle(g).nearest) AS mic_nx",
        "ST_Y(ST_MaximumInscribedCircle(g).nearest) AS mic_ny",
        "ST_MinimumClearance(g) AS mc",
        "ST_Length(ST_MinimumClearanceLine(g)) AS mcl_len",
        "ST_AsText(ST_MinimumClearanceLine(g)) AS mcl_wkt",
        "ST_X(ST_RotateX(p, pi())) AS rx",
        "ST_Y(ST_RotateX(p, pi())) AS ry",
        "ST_Z(ST_RotateX(p, pi())) AS rz",
        "ST_NPoints(ST_SimplifyVW(l, 2.0d)) AS np",
        "ST_Length(ST_SimplifyVW(l, 2.0d)) AS len",
    ])
    assert got[2][1:] == (None,) * 13           # NULL row stays NULL
    assert got[0][1] == 15.0                    # rect MIC radius


def test_r14_fused_batch_structs_equal_composition(spark):
    """The orientation, Z, vertex-surgery and split batches fused by the
    projection fuser must equal the unfused compositions value-for-value
    — rect lane, already-CW ring, holed polygon, non-areal passthrough,
    Z points, off-line split points, and NULLs. ST_ForceRHR is the same
    registered function as ST_ForcePolygonCW, so the fuser shares its
    node."""
    rows = [
        (0, "POLYGON ((10 10, 60 10, 60 40, 10 40, 10 10))",  # CCW rect
         "POINT Z (3 4 5)",
         "LINESTRING (0 0, 8 0)", "POINT (4 1)", "POINT (4 0)", 1),
        (1, "POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))",            # already CW
         "POINT (1 2)",                                        # 2D
         "LINESTRING (0 0, 6 0)", "POINT (2 2)", "POINT (2 0)", 1),
        (2, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"         # holed
         " (4 4, 6 4, 6 6, 4 6, 4 4))",
         "POINT Z (0 0 0)",
         "LINESTRING (0 0, 2 2, 5 5)", "POINT (1 0)", "POINT (2 2)", -1),
        (3, "LINESTRING (0 0, 1 1)",                          # non-areal
         None, None, None, None, None),
        (4, None, None, None, None, None, None),              # NULL row
    ]
    df = spark.createDataFrame(
        rows, "id int, g string, p string, l string, pt string,"
        " spt string, pos int")
    got = _fused_equals_composed(spark, df, [
        "id",
        "ST_AsText(ST_ForcePolygonCW(g)) AS cw_wkt",
        "ST_AsText(ST_ForceRHR(g)) AS rhr_wkt",
        "ST_AsText(ST_ForcePolygonCCW(ST_ForcePolygonCW(g))) AS ccw_rt",
        "ST_IsPolygonCW(ST_ForcePolygonCW(g)) AS is_cw",
        "ST_IsPolygonCCW(ST_ForcePolygonCW(g)) AS is_ccw",
        "ST_Area(ST_ForcePolygonCW(g)) AS cw_area",
        "ST_Zmflag(p) AS zm",
        "ST_Z(p) AS zz",
        "ST_NPoints(ST_AddPoint(l, pt, pos)) AS ap_np",
        "ST_Length(ST_AddPoint(l, pt, pos)) AS ap_len",
        "ST_NPoints(ST_RemovePoint(ST_AddPoint(l, pt, pos), pos)) AS rp_np",
        "ST_Length(ST_RemovePoint(ST_AddPoint(l, pt, pos), pos)) AS rp_len",
        "ST_NumGeometries(ST_Split(l, spt)) AS sp_n",
        "ST_Length(ST_GeometryN(ST_Split(l, spt), 0)) AS sp_len0",
    ])
    for r in got:
        assert r[1] == r[2], r                  # ForceRHR == ForcePolygonCW
    assert got[4][1:] == (None,) * 14           # NULL row stays NULL
