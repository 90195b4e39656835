"""GEOMETRYCOLLECTION + Z-coordinate kernel surface (r7, VERDICT r6
item 1): WKT / WKB / GeoJSON round trips (hypothesis-driven, including
WKB's 0x80000000-EWKB-flagged Z types), member accessors, collection
measures, the Z accessor family, and the explicit EWKB-SRID / M
rejections (ADVICE r6).

Parity target: Sedona's ST_GeomFromWKT accepts every WKT type including
GEOMETRYCOLLECTION and Z coordinates (the function the reference calls at
spark_job/process_geodata.py:102-103); planar ops ignore z like Sedona's
2D ops do.
"""

from __future__ import annotations

import struct

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geom as G
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT

ints = st.integers(-50, 50)
pt2 = st.tuples(ints, ints)
pt3 = st.tuples(ints, ints, ints)


def _wkt_point(p):
    if len(p) == 3:
        return f"POINT Z ({p[0]} {p[1]} {p[2]})"
    return f"POINT ({p[0]} {p[1]})"


def _wkt_line(pts):
    z = " Z" if len(pts[0]) == 3 else ""
    return f"LINESTRING{z} (" + ", ".join(
        " ".join(str(c) for c in p) for p in pts) + ")"


def _wkt_rect(x, y, w, h, z=None):
    if z is None:
        return (f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + h}, "
                f"{x} {y + h}, {x} {y}))")
    return (f"POLYGON Z (({x} {y} {z}, {x + w} {y} {z}, "
            f"{x + w} {y + h} {z}, {x} {y + h} {z}, {x} {y} {z}))")


member_wkt = st.one_of(
    pt2.map(_wkt_point),
    pt3.map(_wkt_point),
    st.lists(pt2, min_size=2, max_size=4, unique=True).map(_wkt_line),
    st.lists(pt3, min_size=2, max_size=4, unique=True).map(_wkt_line),
    st.tuples(ints, ints, st.integers(1, 9), st.integers(1, 9)).map(
        lambda t: _wkt_rect(*t)),
    st.tuples(ints, ints, st.integers(1, 9), st.integers(1, 9), ints).map(
        lambda t: _wkt_rect(*t)),
)


@given(w=member_wkt)
@settings(max_examples=120, deadline=None)
def test_prop_wkt_roundtrip_z(w):
    tg = GT.parse_wkt(w)
    canonical = GT.to_wkt(tg)
    assert GT.to_wkt(GT.parse_wkt(canonical)) == canonical


@given(w=member_wkt)
@settings(max_examples=120, deadline=None)
def test_prop_wkb_roundtrip_z(w):
    tg = GT.parse_wkt(w)
    assert GT.to_wkt(GT.parse_wkb(GT.to_wkb(tg))) == GT.to_wkt(tg)


@given(members=st.lists(member_wkt, min_size=0, max_size=4))
@settings(max_examples=80, deadline=None)
def test_prop_geomcollection_roundtrips(members):
    w = ("GEOMETRYCOLLECTION EMPTY" if not members
         else "GEOMETRYCOLLECTION (" + ", ".join(members) + ")")
    tg = GT.parse_wkt(w)
    canonical = GT.to_wkt(tg)
    assert GT.to_wkt(GT.parse_wkt(canonical)) == canonical
    assert GT.to_wkt(GT.parse_wkb(GT.to_wkb(tg))) == canonical
    # collection measures decompose over members
    assert GT.npoints(tg) == sum(
        GT.npoints(GT.parse_wkt(m)) for m in members)
    assert GT.dimension(tg) == max(
        (GT.dimension(GT.parse_wkt(m)) for m in members), default=0)
    stripped = GT.strip_z(tg)
    assert abs(GT.area_of(stripped) - sum(
        GT.area_of(GT.strip_z(GT.parse_wkt(m))) for m in members)) < 1e-9
    assert not GT.has_z(stripped)


@given(p=pt3)
@settings(max_examples=60, deadline=None)
def test_prop_ewkb_z_flag_parses_like_iso(p):
    """EWKB encodes Z as flag 0x80000000 on the base code; ISO as
    base + 1000. Both must parse to the same tgeom."""
    iso = GT.to_wkb(("POINT Z", [tuple(float(c) for c in p)]))
    (code,) = struct.unpack_from("<I", iso, 1)
    assert code == 1001
    ewkb = iso[:1] + struct.pack("<I", 1 | 0x80000000) + iso[5:]
    assert GT.parse_wkb(ewkb) == GT.parse_wkb(iso)


@given(pts=st.lists(pt3, min_size=2, max_size=4, unique=True))
@settings(max_examples=40, deadline=None)
def test_prop_ewkb_z_flag_linestring(pts):
    iso = GT.to_wkb(GT.parse_wkt(_wkt_line(pts)))
    ewkb = iso[:1] + struct.pack("<I", 2 | 0x80000000) + iso[5:]
    assert GT.parse_wkb(ewkb) == GT.parse_wkb(iso)


def test_wkb_rejections():
    srid = b"\x01" + struct.pack("<I", 1 | 0x20000000) + struct.pack(
        "<I", 4326) + struct.pack("<dd", 1.0, 2.0)
    with pytest.raises(G.GeomError, match="SRID"):
        GT.parse_wkb(srid)
    m_flag = b"\x01" + struct.pack("<I", 1 | 0x40000000) + struct.pack(
        "<ddd", 1.0, 2.0, 3.0)
    with pytest.raises(G.GeomError, match="M/ZM"):
        GT.parse_wkb(m_flag)
    m_iso = b"\x01" + struct.pack("<I", 2001) + struct.pack(
        "<ddd", 1.0, 2.0, 3.0)
    with pytest.raises(G.GeomError, match="M/ZM"):
        GT.parse_wkb(m_iso)


def test_wkt_rejections():
    with pytest.raises(G.GeomError, match="M/ZM"):
        GT.parse_wkt("POINT M (1 2 3)")
    with pytest.raises(G.GeomError, match="M/ZM"):
        GT.parse_wkt("POINT ZM (1 2 3 4)")
    with pytest.raises(G.GeomError, match="M/ZM"):
        GT.parse_wkt("POINT (1 2 3 4)")
    with pytest.raises(G.GeomError, match="mixed"):
        GT.parse_wkt("LINESTRING (0 0 1, 2 2)")


def test_geomcollection_accessor_scalars():
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S

    gc = ("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 3 4), "
          "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))")
    assert S._geom_from_wkt(gc) == gc
    assert S._num_geometries(gc) == 3
    assert S._geometry_n(gc, 1) == "LINESTRING (0 0, 3 4)"
    assert S._geometry_n(gc, 3) is None
    assert S._geometry_type(gc) == "ST_GeometryCollection"
    assert S._area(gc) == 4.0
    assert S._length(gc) == 13.0  # 5 (line) + 8 (rect perimeter)
    assert S._npoints(gc) == 8
    assert S._dimension_of(gc) == 2
    assert S._is_empty("GEOMETRYCOLLECTION EMPTY") is True
    assert S.udf_table()["ST_Envelope"].func(pd.Series([gc]))[0] == \
        "POLYGON ((0 0, 3 0, 3 4, 0 4, 0 0))"
    assert S._is_valid(gc) is True
    # GeoJSON GeometryCollection round trip
    gj = S._as_geojson(gc)
    assert '"type":"GeometryCollection"' in gj
    assert S._geom_from_geojson(gj) == gc
    # nested collections flatten through ST_Dump (PostGIS convention)
    nested = f"GEOMETRYCOLLECTION (POINT (9 9), {gc})"
    assert S.udf_table()["ST_Dump"].func(pd.Series([nested]))[0] == [
        "POINT (9 9)", "POINT (1 2)", "LINESTRING (0 0, 3 4)",
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"]


def test_z_accessor_scalars():
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S

    pz = "POINT Z (1 2 3)"
    assert S._geom_from_wkt(pz) == pz
    assert S._geom_from_wkt("POINT (1 2 3)") == pz  # untagged Z inferred
    assert (S._st_xy(pz, 0), S._st_xy(pz, 1), S._st_xy(pz, 2)) == (1, 2, 3)
    assert S._st_xy("POINT (1 2)", 2) is None
    assert S._force_2d(pz) == "POINT (1 2)"
    assert S._ndims(pz) == 3 and S._ndims("POINT (1 2)") == 2
    assert S._z_minmax("LINESTRING Z (0 0 1, 1 1 9)", True) == 9.0
    assert S._z_minmax("LINESTRING Z (0 0 1, 1 1 9)", False) == 1.0
    assert S._z_minmax("LINESTRING (0 0, 1 1)", True) is None
    polyz = "POLYGON Z ((0 0 5, 4 0 5, 4 4 5, 0 4 5, 0 0 5))"
    assert S._is_areal(polyz) is False
    assert S._area(polyz) == 16.0  # planar area of the 2D projection
    assert S._area("POLYGON((0 0 5, 4 0 5, 4 4 5, 0 4 5, 0 0 5))") == 16.0
    assert S._centroid(polyz) == "POINT (2 2)"
    assert S._length("LINESTRING Z (0 0 7, 3 4 7)") == 5.0  # z ignored
    assert S._flip_coordinates(pz) == "POINT Z (2 1 3)"
    assert S._translate(pz, 1, 1) == "POINT Z (2 3 3)"
    assert S._reverse("LINESTRING Z (0 0 1, 1 1 2)") == \
        "LINESTRING Z (1 1 2, 0 0 1)"
    # transform reprojects x/y and passes z through (Sedona convention)
    kind, data = GT.parse_wkt(S.udf_table()["ST_Transform"].func(
        *(pd.Series([v]) for v in ("POINT Z (0 0 7)", "EPSG:4326",
                                   "EPSG:3857")))[0])
    assert kind == "POINT Z"
    x, y, z = data[0]
    assert x == 0.0 and abs(y) < 1e-6 and z == 7.0
    gj = S._as_geojson(pz)
    assert gj == '{"type":"Point","coordinates":[1,2,3]}'
    assert S._geom_from_geojson(gj) == pz


def test_lineal_lineal_intersection_shapes():
    """ADVICE r6 item 1: ST_Intersection(LINESTRING, LINESTRING) — the
    documented contract now holds instead of raising."""
    a = GT.parse_wkt("LINESTRING (0 0, 10 0)")
    cases = [
        ("LINESTRING (2 0, 4 0, 4 5)", "LINESTRING (2 0, 4 0)"),
        ("LINESTRING (5 -5, 5 5)", "POINT (5 0)"),
        ("LINESTRING (2 0, 4 0, 0 -5, 0 5)",
         "GEOMETRYCOLLECTION (LINESTRING (2 0, 4 0), POINT (0 0))"),
        ("LINESTRING (20 0, 30 0)", "LINESTRING EMPTY"),
        ("LINESTRING (10 0, 15 5)", "POINT (10 0)"),  # endpoint touch
    ]
    for wkt_b, expect in cases:
        b = GT.parse_wkt(wkt_b)
        assert GT.to_wkt(GT.intersection_typed(a, b)) == expect
        assert GT.to_wkt(GT.intersection_typed(b, a)) == expect
