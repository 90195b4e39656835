"""functions/lanes_ops.py (r11): every vectorized lane behind the five
scalar parity batches (st_shape_edit/edit_line/measure/affine/misc_ops)
must be BIT-EQUAL to the scalar kernel it fronts, across batches that
hit every lane class AND every fallback class, and the fixture classes
must actually be CLAIMED (no silent per-row fallback). Tests drive the
registered pandas_udf wrappers' .func — the full dispatch path."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import (
    lanes as L,
    lanes_ops as LO,
    spatial as S,
)

RNG = np.random.default_rng(202)
N = 60


def _ints():
    a = RNG.integers(0, 100, N)
    b = RNG.integers(0, 100, N)
    c = a + RNG.integers(1, 11, N)
    d = b + RNG.integers(1, 11, N)
    return a, b, c, d


A, B, C, D = _ints()
PID = RNG.integers(0, 100000, N)

POLY = pd.Series([f"POLYGON (({a} {b}, {c} {b}, {c} {d}, {a} {d}, {a} {b}))"
                  for a, b, c, d in zip(A, B, C, D)], dtype=object)
RING = pd.Series([f"LINESTRING ({a} {b}, {c} {b}, {c} {d}, {a} {d}, {a} {b})"
                  for a, b, c, d in zip(A, B, C, D)], dtype=object)
BOW = pd.Series([f"LINESTRING ({a} {b}, {c} {d}, {a} {d}, {c} {b})"
                 for a, b, c, d in zip(A, B, C, D)], dtype=object)
DIAG = pd.Series([f"LINESTRING ({a} {b}, {c} {d})"
                  for a, b, c, d in zip(A, B, C, D)], dtype=object)
BOTTOM = pd.Series([f"LINESTRING ({a} {b}, {c} {b})"
                    for a, b, c in zip(A, B, C)], dtype=object)
CORNERS = pd.Series([f"MULTIPOINT ({a} {b}, {c} {b}, {c} {d}, {a} {d})"
                     for a, b, c, d in zip(A, B, C, D)], dtype=object)
GC = pd.Series(
    [f"GEOMETRYCOLLECTION (POINT ({a} {b}), POINT ({c} {d}), "
     f"LINESTRING ({a} {b}, {c} {d}))"
     for a, b, c, d in zip(A, B, C, D)], dtype=object)
BUMP = pd.Series([f"LINESTRING ({a} {b}, {(a + c) / 2.0} {b + 0.05}, "
                  f"{c} {b})" for a, b, c in zip(A, B, C)], dtype=object)
MLS = pd.Series([f"MULTILINESTRING (({a} {b}, {c} {b}), ({c} {b}, "
                 f"{c} {d}))" for a, b, c, d in zip(A, B, C, D)],
                dtype=object)
DUP = pd.Series([f"LINESTRING ({a} {b}, {a} {b}, {c} {b}, {c} {b})"
                 for a, b, c in zip(A, B, C)], dtype=object)
IPT = pd.Series([f"POINT ({a} {b})" for a, b in zip(A, B)], dtype=object)
THETA = pd.Series((0.39269908169872414 * (PID % 8)).astype(float))

#: fallback rows appended to geometry batches — every lane must route
#: these to the scalar untouched (None = NULL propagation)
FALLBACK = pd.Series([
    "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
    "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
    "((9 9, 10 9, 10 10, 9 10, 9 9)))",
    "LINESTRING Z (0 0 0, 3 4 0)",
    "POINT Z (1 2 3)",
    "GEOMETRYCOLLECTION (POINT (1 2))",
    "POLYGON ((0 0, 7 3, 5 9, -2 6, 0 0))",     # non-rect float-claimable
    "LINESTRING (0.5 0.25, 3.5 0.25)",
    None,
], dtype=object)


def _cat(s: pd.Series) -> pd.Series:
    return pd.concat([s, FALLBACK], ignore_index=True)


def _pad(s: pd.Series, fill) -> pd.Series:
    return pd.concat([s, pd.Series([fill] * len(FALLBACK), dtype=object)],
                     ignore_index=True)


def _eq(got: pd.Series, want: list, label: str):
    got = got.tolist() if hasattr(got, "tolist") else list(got)
    assert len(got) == len(want), label
    for i, (g, w) in enumerate(zip(got, want)):
        g_nan = g is None or g is pd.NA or (isinstance(g, float)
                                            and math.isnan(g))
        w_nan = w is None or w is pd.NA or (isinstance(w, float)
                                            and math.isnan(w))
        if g_nan or w_nan:
            assert g_nan and w_nan, f"{label}[{i}]: {g!r} != {w!r}"
            continue
        assert g == w, f"{label}[{i}]: {g!r} != {w!r}"


def _boom(*a, **k):
    raise AssertionError("lane fell back to the scalar")


def _st(name: str):
    """The registered UDF's function (the coordinate maps and the
    measures are packed bodies behind functions/geomb's one-node
    adapter)."""
    return S.udf_table()[name].func


# ------------------------------------------------- unary wrapper parity

UNARY = [
    ("area", S.udf_table()["ST_Area"], S._area, POLY),
    ("perimeter", S.udf_table()["ST_Perimeter"], S._perimeter, POLY),
    ("boundingdiagonal", S.udf_table()["ST_BoundingDiagonal"], S._bounding_diagonal,
     POLY),
    ("isclosed", S.udf_table()["ST_IsClosed"], S._is_closed, RING),
    ("isclosed-open", S.udf_table()["ST_IsClosed"], S._is_closed, DIAG),
    ("issimple-diag", S.udf_table()["ST_IsSimple"], S._is_simple, DIAG),
    ("issimple-bow", S.udf_table()["ST_IsSimple"], S._is_simple, BOW),
    ("isring", S.udf_table()["ST_IsRing"], S._is_ring, RING),
    ("pointonsurface", S.udf_table()["ST_PointOnSurface"], S._point_on_surface, POLY),
    ("geometricmedian", S.udf_table()["ST_GeometricMedian"], S._geometric_median,
     CORNERS),
    ("makepolygon", S.udf_table()["ST_MakePolygon"], S._make_polygon, RING),
    ("removerepeated", S.udf_table()["ST_RemoveRepeatedPoints"],
     S._remove_repeated_points, DUP),
    ("multi", S.udf_table()["ST_Multi"], S._multi, IPT),
    ("geometrytype", S.udf_table()["ST_GeometryType"], S._geometry_type, POLY),
    ("numpoints", S.udf_table()["ST_NumPoints"], S._num_points, RING),
    ("length", S.udf_table()["ST_Length"], S._length, BOTTOM),
    ("npoints", S.udf_table()["ST_NPoints"], S._npoints, POLY),
    ("numgeometries", S.udf_table()["ST_NumGeometries"], S._num_geometries, GC),
    ("xmin", S.udf_table()["ST_XMin"], lambda g: S._bound_of(g, "xmin"), POLY),
    ("xmax", S.udf_table()["ST_XMax"], lambda g: S._bound_of(g, "xmax"), POLY),
    ("ymin", S.udf_table()["ST_YMin"], lambda g: S._bound_of(g, "ymin"), POLY),
    ("ymax", S.udf_table()["ST_YMax"], lambda g: S._bound_of(g, "ymax"), POLY),
    ("startpoint", S.udf_table()["ST_StartPoint"],
     lambda g: S._terminal_point(g, False), BOTTOM),
    ("endpoint", S.udf_table()["ST_EndPoint"],
     lambda g: S._terminal_point(g, True), BOTTOM),
    ("mbr", S.udf_table()["ST_MinimumBoundingRadius"],
     lambda g: (S._min_bounding_radius(g) or (None, None))[1], POLY),
]


@pytest.mark.parametrize("name,udf,scalar,batch",
                         UNARY, ids=[u[0] for u in UNARY])
def test_unary_wrapper_equals_scalar(name, udf, scalar, batch):
    s = _cat(batch)
    got = udf.func(s)
    want = [None if g is None else scalar(g) for g in s]
    _eq(got, want, name)


def test_centroid_wrapper():
    """_centroid raises for GEOMETRYCOLLECTION, so its batch skips the
    GC fallback row (areal + lineal + puntal + float + NULL only)."""
    s = pd.concat([POLY, BOTTOM, IPT,
                   pd.Series(["POLYGON ((0 0, 7 3, 5 9, -2 6, 0 0))",
                              "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), "
                              "(1 1, 2 1, 2 2, 1 2, 1 1))",
                              "POINT (1.5 -2.25)", None], dtype=object)],
                  ignore_index=True)
    got = _st("ST_Centroid")(s)
    want = [None if g is None else S._centroid(g) for g in s]
    _eq(got, want, "centroid")


def test_linemerge_wrapper():
    """The active _line_merge raises for non-lineal input, so its batch
    mixes only lineal shapes (chain MLS, plain lines, NULL)."""
    s = pd.concat([MLS, BOTTOM, DIAG,
                   pd.Series(["MULTILINESTRING ((0 0, 1 0), (5 5, 6 6))",
                              "LINESTRING (0.5 0.25, 3.5 0.25)", None],
                             dtype=object)], ignore_index=True)
    got = S.udf_table()["ST_LineMerge"].func(s)
    want = [None if g is None else S._line_merge(g) for g in s]
    _eq(got, want, "linemerge")


# ----------------------------------------------- parameterized wrappers

def test_rotate_then_area_chain():
    s = _cat(POLY)
    t = _pad(THETA, 0.5)
    rot = _st("ST_Rotate")(s, t)
    want = [None if g is None or pd.isna(v) else S._rotate(g, float(v))
            for g, v in zip(s, t)]
    _eq(rot, want, "rotate")
    ar = _st("ST_Area")(rot)
    _eq(ar, [None if g is None else S._area(g) for g in rot],
        "area(rotate)")


def test_affine_centroid_chain():
    # no GC row: _centroid raises for GEOMETRYCOLLECTION input
    s = pd.concat([POLY, pd.Series(
        ["POLYGON ((0 0, 7 3, 5 9, -2 6, 0 0))",
         "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
         "POINT (1.5 -2.25)", None], dtype=object)], ignore_index=True)
    params = [pd.Series([v] * len(s), dtype=float)
              for v in (0.0, -1.0, 1.0, 0.0, 0.0, 0.0)]
    aff = _st("ST_Affine")(s, *params)
    want = [None if g is None else S._affine(g, 0.0, -1.0, 1.0, 0.0,
                                             0.0, 0.0) for g in s]
    _eq(aff, want, "affine")
    cen = _st("ST_Centroid")(aff)
    _eq(cen, [None if g is None else S._centroid(g) for g in aff],
        "centroid(affine)")


def test_scale_expand_snap_reduce():
    s = _cat(POLY)
    two = pd.Series([2.0] * len(s))
    three = pd.Series([3.0] * len(s))
    _eq(_st("ST_Scale")(s, two, three),
        [None if g is None else S._scale(g, 2.0, 3.0) for g in s],
        "scale")
    d = _pad(pd.Series(((1 + PID % 5) / 4.0)), 0.25)
    _eq(_st("ST_Expand")(s, d),
        [None if g is None or pd.isna(v) else S._expand(g, float(v))
         for g, v in zip(s, d)], "expand")
    fpt = _cat(pd.Series([f"POINT ({a + 0.3125} {b})"
                          for a, b in zip(A, B)], dtype=object))
    q = pd.Series([0.25] * len(fpt))
    _eq(_st("ST_SnapToGrid")(fpt, q),
        [None if g is None else S._snap_to_grid(g, 0.25) for g in fpt],
        "snaptogrid")
    one = pd.Series([1] * len(fpt))
    _eq(_st("ST_ReducePrecision")(fpt, one),
        [None if g is None else S._reduce_precision(g, 1) for g in fpt],
        "reduceprecision")


def test_measure_wrappers():
    p1 = _cat(pd.Series([f"POINT ({c} {b})" for b, c in zip(B, C)],
                        dtype=object))
    p2 = _cat(pd.Series([f"POINT ({a} {b})" for a, b in zip(A, B)],
                        dtype=object))
    p3 = _cat(pd.Series([f"POINT ({a} {d})" for a, d in zip(A, D)],
                        dtype=object))
    _eq(S.udf_table()["ST_Angle"].func(p1, p2, p3),
        [S._angle3(a, b, c) for a, b, c in zip(p1, p2, p3)], "angle")
    pt = _cat(pd.Series([f"POINT ({a - 1} {b - 1})"
                         for a, b in zip(A, B)], dtype=object))
    poly = _cat(POLY)
    _eq(S.udf_table()["ST_MaxDistance"].func(pt, poly),
        [S._max_distance(x, y) for x, y in zip(pt, poly)], "maxdist")
    ll = S.udf_table()["ST_LongestLine"].func(pt, poly)
    _eq(ll, [S._longest_line(x, y) for x, y in zip(pt, poly)],
        "longestline")
    pt3 = _cat(pd.Series([f"POINT ({a - 3} {b})" for a, b in zip(A, B)],
                         dtype=object))
    _eq(S.udf_table()["ST_ShortestLine"].func(pt3, poly),
        [S._shortest_line(x, y) for x, y in zip(pt3, poly)],
        "shortestline")
    sa = _cat(BOTTOM)
    sh = _cat(pd.Series([f"LINESTRING ({c + 2} {b}, {2 * c + 2 - a} {b})"
                         for a, b, c in zip(A, B, C)], dtype=object))
    _eq(S.udf_table()["ST_HausdorffDistance"].func(sa, sh),
        [S._hausdorff_distance(x, y) for x, y in zip(sa, sh)],
        "hausdorff")
    rv = _cat(pd.Series([f"LINESTRING ({c} {b + 3}, {a} {b + 3})"
                         for a, b, c in zip(A, B, C)], dtype=object))
    _eq(S.udf_table()["ST_FrechetDistance"].func(sa, rv),
        [S._frechet_distance(x, y) for x, y in zip(sa, rv)], "frechet")


def test_editor_wrappers():
    line = _cat(BOTTOM)
    midpt = _cat(pd.Series([f"POINT ({(a + c) / 2.0} {b + 1})"
                            for a, b, c in zip(A, B, C)], dtype=object))
    pos1 = pd.Series([1] * len(line))
    ap = S.udf_table()["ST_AddPoint"].func(line, midpt, pos1)
    _eq(ap, [None if x is None or y is None else S._add_point(x, y, 1)
             for x, y in zip(line, midpt)], "addpoint")
    _eq(S.udf_table()["ST_RemovePoint"].func(ap, pos1),
        [None if g is None else S._remove_point(g, 1) for g in ap],
        "removepoint")
    endpt = _cat(pd.Series([f"POINT ({c + 5} {b})"
                            for b, c in zip(B, C)], dtype=object))
    neg1 = pd.Series([-1] * len(line))
    _eq(S.udf_table()["ST_SetPoint"].func(line, neg1, endpt),
        [None if x is None or y is None else S._set_point(x, -1, y)
         for x, y in zip(line, endpt)], "setpoint")
    snapline = _cat(pd.Series(
        [f"LINESTRING ({a + 0.25} {b}, {c} {d})"
         for a, b, c, d in zip(A, B, C, D)], dtype=object))
    ref = _cat(IPT)
    half = pd.Series([0.5] * len(line))
    _eq(S.udf_table()["ST_Snap"].func(snapline, ref, half),
        [None if x is None or y is None else S._snap(x, y, 0.5)
         for x, y in zip(snapline, ref)], "snap-vertex")
    near = _cat(pd.Series([f"POINT ({(a + c) / 2.0} {b + 0.25})"
                           for a, b, c in zip(A, B, C)], dtype=object))
    _eq(S.udf_table()["ST_Snap"].func(line, near, half),
        [None if x is None or y is None else S._snap(x, y, 0.5)
         for x, y in zip(line, near)], "snap-insert")
    # _split raises for areal targets: lineal-only batch
    lline = pd.concat([BOTTOM, DIAG,
                       pd.Series(["LINESTRING (0.5 0.25, 3.5 0.25)",
                                  None], dtype=object)],
                      ignore_index=True)
    mid_on = pd.concat([pd.Series([f"POINT ({(a + c) / 2.0} {b})"
                                   for a, b, c in zip(A, B, C)],
                                  dtype=object),
                        pd.Series([f"POINT ({a} {b})"
                                   for a, b in zip(A, B)], dtype=object),
                        pd.Series(["POINT (2 0.25)", None],
                                  dtype=object)], ignore_index=True)
    spl = S.udf_table()["ST_Split"].func(lline, mid_on)
    _eq(spl, [S._split(x, y) for x, y in zip(lline, mid_on)], "split")
    zero = pd.Series([0] * len(spl))
    _eq(S.udf_table()["ST_GeometryN"].func(spl, zero),
        [None if g is None else S._geometry_n(g, 0) for g in spl],
        "geometryn")
    f1 = pd.Series([0.25] * len(line))
    f2 = pd.Series([0.75] * len(line))
    _eq(S.udf_table()["ST_LineSubstring"].func(line, f1, f2),
        [None if g is None else S._line_substring(g, 0.25, 0.75)
         for g in line], "linesubstring")


def test_misc_wrappers():
    s = _cat(POLY)
    one = pd.Series([1.0] * len(s))
    sg = S.udf_table()["ST_Segmentize"].func(s, one)
    _eq(sg, [None if g is None else S._segmentize(g, 1.0) for g in s],
        "segmentize")
    _eq(_st("ST_NPoints")(sg),
        [None if g is None else S._npoints(g) for g in sg],
        "npoints(segmentize)")
    # r12 (VERDICT r11 item 3): pin BOTH emission paths inside the lane
    # claim — mlen=1.0 above takes the int fast path (integral splits,
    # str(int) emission); a fractional mlen forces the exact=False branch
    # (float vertices through kernel _fmt). Same scalar law either way.
    frac = pd.Series([0.7] * len(s))
    _eq(S.udf_table()["ST_Segmentize"].func(s, frac),
        [None if g is None else S._segmentize(g, 0.7) for g in s],
        "segmentize-float-branch")
    gc = _cat(GC)
    for dim in (1, 2, 3):
        dd = pd.Series([dim] * len(gc))
        _eq(S.udf_table()["ST_CollectionExtract"].func(gc, dd),
            [None if g is None else S._collection_extract(g, dim)
             for g in gc], f"collectionextract-{dim}")
    bump = _cat(BUMP)
    tol = pd.Series([0.1] * len(bump))
    _eq(S.udf_table()["ST_Simplify"].func(bump, tol),
        [None if g is None else S._simplify_wkt(g, 0.1) for g in bump],
        "simplify")
    # sub-tolerance bump is DROPPED, large bump kept: hit both branches
    tol_small = pd.Series([0.001] * len(bump))
    _eq(S.udf_table()["ST_Simplify"].func(bump, tol_small),
        [None if g is None else S._simplify_wkt(g, 0.001) for g in bump],
        "simplify-keep")
    eqpt = _cat(pd.Series([f"POINT ({float(a % 90)} 0)" for a in A],
                          dtype=object))
    dist = pd.Series([111194.9266] * len(eqpt))
    az = pd.Series([1.5707963267948966] * len(eqpt))
    _eq(S.udf_table()["ST_Project"].func(eqpt, dist, az),
        [None if g is None else S._project_point(g, 111194.9266,
                                                 1.5707963267948966)
         for g in eqpt], "project")
    f3 = S.udf_table()["ST_Force3D"].func(_cat(IPT), pd.Series([7.0] * (N + len(FALLBACK))))
    _eq(S.udf_table()["ST_HasZ"].func(f3),
        [None if g is None else S._ndims(g) == 3 for g in f3], "hasz")


# --------------------------------------------------------- claim probes

def test_fixture_classes_are_claimed(monkeypatch):
    """The exact fixture shape classes of the five registry batches must
    be handled by the lanes — scalar_fn must never be called — and by
    the packed bodies of the coordinate maps and the measures, which
    must send no fixture row to their scalar kernel or to the scalar WKT
    or WKB parser (the measures reach their scalar kernels only through
    GT.parse_wkb, the centroid through _centroid_scalar)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import (
        geomb as GB,
    )
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import (
        geomtypes as GT,
    )

    one = lambda v: pd.Series([v] * N)  # noqa: E731
    for name in ("_rotate", "_affine", "_scale", "_expand", "_translate",
                 "_snap_to_grid", "_reduce_precision"):
        monkeypatch.setattr(S, name, _boom)
    monkeypatch.setattr(GT, "parse_wkt", _boom)
    rot = _st("ST_Rotate")(POLY, THETA)
    _st("ST_Affine")(POLY, *[one(float(v)) for v in (0, -1, 1, 0, 0, 0)])
    _st("ST_Scale")(POLY, one(2.0), one(3.0))
    _st("ST_Translate")(POLY, one(2.0), one(3.0))
    _st("ST_Expand")(POLY, pd.Series((1 + PID % 5) / 4.0))
    fpt = pd.Series([f"POINT ({a + 0.3125} {b})" for a, b in zip(A, B)],
                    dtype=object)
    _st("ST_SnapToGrid")(fpt, one(0.25))
    _st("ST_ReducePrecision")(fpt, one(1))
    monkeypatch.setattr(GB, "_centroid_scalar", _boom)
    monkeypatch.setattr(GT, "parse_wkb", _boom)
    _st("ST_Area")(rot)
    _st("ST_NPoints")(POLY)
    _st("ST_NumPoints")(RING)
    _st("ST_Length")(BOTTOM)
    _st("ST_Centroid")(POLY)
    monkeypatch.undo()
    LO.multi(IPT, _boom)
    LO.perimeter(POLY, _boom)
    LO.bounding_diagonal(POLY, _boom)
    LO.is_closed(RING, _boom)
    LO.is_ring(RING, _boom)
    LO.is_simple(BOW, _boom)
    LO.is_simple(DIAG, _boom)
    LO.point_on_surface(POLY, _boom)
    LO.min_bounding_radius_val(POLY, _boom)
    LO.geometric_median(CORNERS, _boom)
    LO.line_substring(BOTTOM, one(0.25), one(0.75), _boom)
    LO.segmentize(POLY, one(1.0), _boom)
    LO.collection_extract(GC, one(1), _boom)
    LO.simplify(BUMP, one(0.1), _boom)
    LO.make_polygon(RING, _boom)
    LO.line_merge(MLS, _boom)
    LO.remove_repeated_points(DUP, _boom)
    LO.bound_of(POLY, "xmin", _boom)
    LO.project(pd.Series([f"POINT ({float(a % 90)} 0)" for a in A],
                         dtype=object),
               one(111194.9266), one(1.5707963267948966), _boom)


def test_fmt_f64_matches_kernel_fmt():
    """fmt_f64_full == kernel _fmt for arbitrary finite doubles,
    including the out-of-window patch path and signed zeros."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel.geom import _fmt

    rng = np.random.default_rng(7)
    vals = np.concatenate([
        rng.uniform(-1e3, 1e3, 2000),
        rng.uniform(-1e14, 1e14, 500),          # out of window
        rng.uniform(-1e-6, 1e-6, 500),          # out of window (tiny)
        np.array([0.0, -0.0, 1e10, 1e-4, 9.999e9, 6.123233995736766e-17,
                  123456789.123456, -5e-324]),
    ])
    sa, ok = L.fmt_f64_full(vals)
    assert ok.all()
    got = sa.to_pylist()
    for v, g in zip(vals.tolist(), got):
        assert _fmt(v) == g, (v, g)
