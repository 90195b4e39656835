"""Round-8 regression tests for the four r7 advice items:

1. _is_areal must classify 2D polygon WKT with any whitespace (double
   spaces, tabs, newlines) as areal — the r7 single-' '-count fast path
   misrouted those to the typed kernel, silently degrading ST_Buffer(g,0)
   to POLYGON EMPTY and raising from ST_Buffer(g, d>0).
2. ST_Buffer / ST_BufferRound take the strip_z projection (the kernel's
   documented planar-op convention) and buffer GEOMETRYCOLLECTION as the
   union of member buffers, instead of raising GeomError.
3. ST_Perimeter recurses over GEOMETRYCOLLECTION members (like ST_Area /
   ST_Length) instead of returning 0.
4. ST_Expand emits the degenerate envelope (POINT / LINESTRING box) for
   d == 0 on degenerate input, reserving EMPTY for negative-d collapse.
"""

from __future__ import annotations

import math

import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S


RECT_VARIANTS = [
    "POLYGON((0  0, 4 0, 4 4, 0 4, 0 0))",       # double space in 1st pt
    "\tPOLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",     # tab prefix
    "POLYGON((0\n0, 4 0, 4 4, 0 4, 0 0))",       # newline separator
    "POLYGON ( ( 0   0 , 4 0, 4 4, 0 4, 0 0 ) )",  # spaces everywhere
]


def test_is_areal_whitespace_variants():
    for w in RECT_VARIANTS:
        assert S._is_areal(w), w
        # the buffer(0) topology rinse must return the polygon, not EMPTY
        assert S._buffer(w, 0) == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", w
        assert S._area(w) == 16.0, w
    # Z routes (tagged and untagged) still go to the typed kernel
    assert not S._is_areal("POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 0 1))")
    assert not S._is_areal("POLYGON((0 0 1, 4 0 1, 4 4 1, 0 0 1))")
    assert not S._is_areal("POINT (1 2)")


def test_buffer_strips_z():
    # point Z: disc around the xy projection
    disc = S._buffer("POINT Z (1 2 3)", 1.0)
    assert disc.startswith("POLYGON")
    assert abs(S._area(disc) - math.pi) < 0.03  # 32-gon ~ pi r^2
    # polygon Z: routed to the areal offset path, not GeomError
    pz = "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 4 1, 0 0 1))"
    assert S._buffer(pz, 0) == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    grown = S._buffer(pz, 1.0)
    assert S._area(grown) == 36.0  # miter: (4+2)^2
    # linestring Z: round capsule
    cap = S._buffer_round("LINESTRING Z (0 0 1, 4 0 1)", 1.0)
    assert abs(S._area(cap) - (8 + math.pi)) < 0.03


def test_buffer_geometrycollection_unions_members():
    gc = "GEOMETRYCOLLECTION (POINT (0 0), POINT (10 10))"
    out = S._buffer(gc, 1.0)
    assert out.startswith("MULTIPOLYGON")
    assert abs(S._area(out) - 2 * math.pi) < 0.05
    # buffer(0) of a GC: areal members survive, lower-dim members vanish
    gc0 = ("GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)),"
           " POINT (5 5))")
    assert S._buffer(gc0, 0) == "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    # overlapping member buffers dissolve (lens counted once) and the GC
    # path matches the MULTIPOINT buffer path bit-for-bit
    near = "GEOMETRYCOLLECTION (POINT (0 0), POINT (1 0))"
    merged = S._buffer_round(near, 1.0)
    assert merged == S._buffer_round("MULTIPOINT (0 0, 1 0)", 1.0)
    assert S._area(merged) > math.pi  # more than one disc, less than two
    assert S._area(merged) < 2 * math.pi


def test_perimeter_geometrycollection_sums_areal_members():
    gc = ("GEOMETRYCOLLECTION (POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)),"
          " POLYGON ((10 10, 12 10, 12 12, 10 12, 10 10)),"
          " POINT (9 9), LINESTRING (0 0, 5 5))")
    assert S._perimeter(gc) == 16.0 + 8.0
    # nested collection recurses too
    nested = ("GEOMETRYCOLLECTION (GEOMETRYCOLLECTION ("
              "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))))")
    assert S._perimeter(nested) == 4.0


def test_expand_degenerate_envelopes():
    """The scalar kernel and the packed body behind the registered
    ST_Expand give the same degenerate shapes."""
    import pandas as pd

    def body(w, d):
        return S.udf_table()["ST_Expand"].func(
            pd.Series([w], dtype=object), pd.Series([float(d)]))[0]

    for expand in (S._expand, body):
        assert expand("POINT (3 4)", 0) == "POINT (3 4)"
        assert expand("LINESTRING (1 1, 1 5)", 0) == \
            "LINESTRING (1 1, 1 5)"
        assert expand("LINESTRING (1 1, 5 1)", 0) == \
            "LINESTRING (1 1, 5 1)"
        # negative d past the center still collapses to EMPTY
        assert expand("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", -5) == \
            "POLYGON EMPTY"
        # exact collapse to the center line/point is degenerate, not EMPTY
        assert expand("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))", -1) == \
            "POINT (1 1)"
        assert expand("POINT (3 4)", 1) == \
            "POLYGON ((2 3, 4 3, 4 5, 2 5, 2 3))"


def test_line_merge_degree_rules():
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT

    # two touching segments stitch; reversed orientation still stitches
    assert S._line_merge("MULTILINESTRING ((0 0, 4 0), (4 0, 4 3))") == \
        "LINESTRING (0 0, 4 0, 4 3)"
    m = S._line_merge("MULTILINESTRING ((4 0, 0 0), (4 0, 4 3))")
    assert S._length(m) == 7.0 and GT.parse_wkt(m)[0] == "LINESTRING"
    # a degree-3 junction stays split (the JTS LineMerger rule)
    m3 = S._line_merge(
        "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (1 0, 1 1))")
    assert len(GT.parse_wkt(m3)[1]) == 3
    # a closed chain of 3 segments merges into one closed path
    mc = S._line_merge(
        "MULTILINESTRING ((0 0, 4 0), (4 0, 2 3), (2 3, 0 0))")
    k, d = GT.parse_wkt(mc)
    assert k == "LINESTRING" and d[0][0] == d[0][-1] and len(d[0]) == 4


def test_triangulate_polygon_counts_and_area():
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT

    t = S._triangulate_polygon("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))")
    k, mem = GT.parse_wkt(t)
    assert k == "GEOMETRYCOLLECTION" and len(mem) == 2
    assert abs(S._area(t) - 12.0) < 1e-9
    cross = ("POLYGON ((2 0, 8 0, 8 2, 10 2, 10 6, 8 6, 8 8, 2 8, 2 6,"
             " 0 6, 0 2, 2 2, 2 0))")
    t2 = S._triangulate_polygon(cross)
    assert len(GT.parse_wkt(t2)[1]) == 10
    assert abs(S._area(t2) - 64.0) < 1e-9
    with pytest.raises(Exception):
        S._triangulate_polygon(
            "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0),"
            " (3 3, 3 6, 6 6, 6 3, 3 3))")  # holes unsupported
