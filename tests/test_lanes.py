"""functions/lanes.py (r10): every vectorized canonical-text lane must be
BIT-EQUAL to the scalar kernel it fronts, across a mixed batch that hits
every lane class AND every fallback class (floats, huge ints, Z, malformed
shapes, NULLs). The test drives each pandas_udf's .func — the whole
batch path including lane dispatch — against a pure per-row scalar map."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S
from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial_ext as SE

RNG = np.random.default_rng(101)


def _rects(n, lo=0, hi=2000):
    a = RNG.integers(lo, hi, n)
    b = RNG.integers(lo, hi, n)
    c = a + RNG.integers(1, 60, n)
    d = b + RNG.integers(1, 60, n)
    return a, b, c, d


def _mixed_batch():
    """Canonical CCW rects, CW rects, bowties, points, Z points,
    lines, multipoints, MLS, GC, floats (fallback), huge ints
    (fallback), NULLs."""
    a, b, c, d = _rects(40)
    rows = []
    for i in range(40):
        A, B, C, D = a[i], b[i], c[i], d[i]
        rows += [
            f"POLYGON (({A} {B}, {C} {B}, {C} {D}, {A} {D}, {A} {B}))",
            f"POLYGON (({A} {D}, {C} {D}, {C} {B}, {A} {B}, {A} {D}))",
            f"POLYGON (({A} {B}, {C} {D}, {C} {B}, {A} {D}, {A} {B}))",
            f"POINT ({A} {B})",
            f"POINT Z ({A} {B} {D})",
            f"LINESTRING ({A} {B}, {C} {B}, {C} {D})",
            f"LINESTRING Z ({A} {B} 0, {C} {B} {D})",
            f"MULTIPOINT ({A} {B}, {C} {D})",
            f"MULTILINESTRING (({A} {B}, {C} {B}), ({C} {B}, {C} {D}))",
            f"GEOMETRYCOLLECTION (POINT ({A} {B}))",
            # canonical single-member MULTIPOLYGON rect: exercises the
            # MPOLY5 lane of typed_from_text (ST_MPolyFromText rewrites
            # it to the POLYGON canon — r10 advice item 2)
            f"MULTIPOLYGON ((({A} {B}, {C} {B}, {C} {D}, {A} {D}, {A} {B})))",
        ]
    # fallback classes
    rows += [
        "POLYGON ((0.5 0.5, 2.5 0.5, 2.5 3.5, 0.5 3.5, 0.5 0.5))",
        "POLYGON ((20000000 0, 20000001 0, 20000001 1, 20000000 1, 20000000 0))",
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))",
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((9 9, 10 9, 10 10, 9 10, 9 9)))",
        "POINT (1.5 -2.25)",
        "POINT (1e3 -2.5e-2)",      # float-accessor lane, exponent form
        "POINT Z (0.25 1e2 -3.5)",
        None,
        None,
    ]
    return pd.Series(rows, dtype=object)


def _eq_series(got: pd.Series, want: pd.Series, label: str):
    assert len(got) == len(want)
    for i, (g, w) in enumerate(zip(got.tolist(), want.tolist())):
        g_nan = g is None or g is pd.NA or (isinstance(g, float)
                                            and math.isnan(g))
        w_nan = w is None or w is pd.NA or (isinstance(w, float)
                                            and math.isnan(w))
        if g_nan or w_nan:
            assert g_nan and w_nan, f"{label}[{i}]: {g!r} != {w!r}"
            continue
        assert g == w, f"{label}[{i}]: {g!r} != {w!r}"


UNARY = [
    ("ST_ForcePolygonCW", S.udf_table()["ST_ForcePolygonCW"],
     lambda w: SE._force_orientation(w, exterior_ccw=False)),
    ("ST_ForcePolygonCCW", S.udf_table()["ST_ForcePolygonCCW"],
     lambda w: SE._force_orientation(w, exterior_ccw=True)),
    ("ST_IsPolygonCW", S.udf_table()["ST_IsPolygonCW"],
     lambda w: SE._is_polygon_oriented(w, exterior_ccw=False)),
    ("ST_IsPolygonCCW", S.udf_table()["ST_IsPolygonCCW"],
     lambda w: SE._is_polygon_oriented(w, exterior_ccw=True)),
    ("ST_IsCollection", S.udf_table()["ST_IsCollection"], SE._is_collection),
    ("ST_Zmflag", S.udf_table()["ST_Zmflag"], SE._zmflag),
    ("ST_ForceCollection", S.udf_table()["ST_ForceCollection"], SE._force_collection),
    ("ST_IsValidReason", S.udf_table()["ST_IsValidReason"], SE._is_valid_reason),
    ("ST_MinimumClearance", S.udf_table()["ST_MinimumClearance"], SE._minimum_clearance),
    ("ST_MinimumClearanceLine", S.udf_table()["ST_MinimumClearanceLine"],
     SE._minimum_clearance_line),
    ("ST_AsHEXEWKB", S.udf_table()["ST_AsHEXEWKB"], SE._as_hexewkb),
    ("ST_LineFromMultiPoint", S.udf_table()["ST_LineFromMultiPoint"],
     SE._line_from_multipoint),
    ("ST_LineFromText", S.udf_table()["ST_LineFromText"],
     lambda w: SE._typed_from_text(w, "LINESTRING")),
    ("ST_MLineFromText", S.udf_table()["ST_MLineFromText"],
     lambda w: SE._typed_from_text(w, "MULTILINESTRING")),
    ("ST_MPolyFromText", S.udf_table()["ST_MPolyFromText"],
     lambda w: SE._typed_from_text(w, "MULTIPOLYGON")),
    ("ST_MPointFromText", S.udf_table()["ST_MPointFromText"],
     lambda w: SE._typed_from_text(w, "MULTIPOINT")),
    ("ST_GeomCollFromText", S.udf_table()["ST_GeomCollFromText"],
     lambda w: SE._typed_from_text(w, "GEOMETRYCOLLECTION")),
    ("ST_Area", S.udf_table()["ST_Area"], S._area),
    ("ST_NPoints", S.udf_table()["ST_NPoints"], S._npoints),
    ("ST_X", S.udf_table()["ST_X"], lambda w: S._st_xy(w, 0)),
    ("ST_Y", S.udf_table()["ST_Y"], lambda w: S._st_xy(w, 1)),
    ("ST_Z", S.udf_table()["ST_Z"], lambda w: S._st_xy(w, 2)),
    ("ST_NumGeometries", S.udf_table()["ST_NumGeometries"], S._num_geometries),
    ("ST_NumInteriorRings", S.udf_table()["ST_NumInteriorRings"],
     S._num_interior_rings),
]


@pytest.mark.parametrize("name,udf,scalar", UNARY,
                         ids=[u[0] for u in UNARY])
def test_unary_lane_equals_scalar(name, udf, scalar):
    s = _mixed_batch()
    got = pd.Series(udf.func(s), dtype=object)
    want = s.map(scalar, na_action="ignore")
    _eq_series(got, want, name)


def test_rotate_lanes_equal_scalar():
    s = _mixed_batch()
    t = pd.Series([math.pi if i % 3 else math.pi / 4
                   for i in range(len(s))], dtype=float)
    for udf, scalar in ((S.udf_table()["ST_RotateX"], SE._rotate_x),
                        (S.udf_table()["ST_RotateY"], SE._rotate_y)):
        got = pd.Series(udf.func(s, t), dtype=object)
        want = pd.Series([scalar(w, v) for w, v in zip(s, t)],
                         index=s.index, dtype=object)
        _eq_series(got, want, udf.func.__name__)


def test_3ddistance_lane_equals_scalar():
    a, b, c, d = _rects(50)
    pz1 = pd.Series([f"POINT Z ({x} {y} 0)" for x, y in zip(a, b)])
    pz2 = pd.Series([f"POINT Z ({x} {y} {z})"
                     for x, y, z in zip(c, d, c - a)])
    lz = pd.Series([f"LINESTRING Z ({x} {y} 0, {u} {y} 0)"
                    for x, y, u in zip(a, b, c)])
    for left, right in ((pz1, pz2), (lz, pz2), (pz1, lz)):
        got = pd.Series(S.udf_table()["ST_3DDistance"].func(left, right), dtype=object)
        want = pd.Series([SE._distance3d(x, y)
                          for x, y in zip(left, right)], dtype=object)
        _eq_series(got, want, "ST_3DDistance")


def test_mic_lane_equals_scalar():
    s = _mixed_batch()
    got = S.udf_table()["ST_MaximumInscribedCircle"].func(s)

    def scalar_row(w):
        if w is None:
            return (None, None, None)
        return SE._maximum_inscribed_circle(w) or (None, None, None)

    want = pd.DataFrame([scalar_row(w) for w in s],
                        columns=["center", "nearest", "radius"],
                        index=s.index)
    for col in ("center", "nearest", "radius"):
        _eq_series(pd.Series(got[col], dtype=object),
                   pd.Series(want[col], dtype=object), f"MIC.{col}")


def test_delimited_constructor_lanes():
    a, b, c, d = _rects(50)
    # "x,y" (non-numeric) raises in the scalar itself — the lane's
    # fallback preserves that raise, so it is not a comparable input
    pts = pd.Series([f"{x},{y}" for x, y in zip(a, b)]
                    + ["1.5,2.5", "1", None])
    delim = pd.Series([","] * len(pts))
    got = pd.Series(S.udf_table()["ST_PointFromText"].func(pts, delim), dtype=object)
    want = pd.Series([None if t is None else SE._point_from_text(t, ",")
                      for t in pts], dtype=object)
    _eq_series(got, want, "ST_PointFromText")

    lines = pd.Series([f"{x},{y},{u},{y},{u},{v}"
                       for x, y, u, v in zip(a, b, c, d)]
                      + ["1,2,3", "1.5,2,3,4", None])
    delim = pd.Series([","] * len(lines))
    got = pd.Series(S.udf_table()["ST_LineStringFromText"].func(lines, delim),
                    dtype=object)
    want = pd.Series([None if t is None
                      else SE._linestring_from_text(t, ",")
                      for t in lines], dtype=object)
    _eq_series(got, want, "ST_LineStringFromText")


def test_polygon_from_envelope_lane():
    a, b, c, d = _rects(50)
    x1 = pd.Series(a.astype(float)).tolist() + [0.5, None]
    y1 = pd.Series(b.astype(float)).tolist() + [0.5, 1.0]
    x2 = pd.Series(c.astype(float)).tolist() + [2.5, 2.0]
    y2 = pd.Series(d.astype(float)).tolist() + [3.5, 3.0]
    x1, y1, x2, y2 = (pd.Series(v, dtype=object)
                      for v in (x1, y1, x2, y2))
    got = pd.Series(S.udf_table()["ST_PolygonFromEnvelope"].func(x1, y1, x2, y2),
                    dtype=object)
    want = pd.Series([SE._polygon_from_envelope(p, q, r, t)
                      for p, q, r, t in zip(x1, y1, x2, y2)],
                     dtype=object)
    _eq_series(got, want, "ST_PolygonFromEnvelope")


def test_force3dz_lane():
    s = _mixed_batch()
    z = pd.Series([7.0] * len(s))
    got = pd.Series(S.udf_table()["ST_Force3D"].func(s, z), dtype=object)
    want = pd.Series([None if w is None else S._force_3d(w, 7.0)
                      for w in s], dtype=object)
    _eq_series(got, want, "ST_Force3DZ")


def test_simplify_vw_lane_equals_scalar():
    """Random 5-point integer polylines (spikes, collinear runs,
    duplicates) across a spread of tolerances — the lane's bounded
    state machine must reproduce the scalar first-min removal loop
    exactly, including the emitted text."""
    n = 4000
    xs = RNG.integers(0, 50, (n, 5))
    ys = RNG.integers(0, 50, (n, 5))
    ys[: n // 4, [0, 2, 4]] = 0            # collinear baselines w/ spikes
    xs[: n // 8] = np.sort(xs[: n // 8], axis=1)
    s = pd.Series(["LINESTRING (" + ", ".join(
        f"{x} {y}" for x, y in zip(rx, ry)) + ")"
        for rx, ry in zip(xs, ys)]
        + ["LINESTRING (0 0, 1 1)",          # not 5 points -> fallback
           "LINESTRING (0.5 0, 1 1, 2 0, 3 1, 4 0)",  # floats -> fallback
           None])
    tol = pd.Series(RNG.integers(0, 2000, len(s)).astype(float) / 4.0)
    got = pd.Series(S.udf_table()["ST_SimplifyVW"].func(s, tol), dtype=object)
    want = pd.Series([SE._simplify_vw(w, v) for w, v in zip(s, tol)],
                     dtype=object)
    _eq_series(got, want, "ST_SimplifyVW")


def test_length_lane_equals_scalar():
    n = 2000
    xs = RNG.integers(0, 10**6, (n, 4))
    ys = RNG.integers(0, 10**6, (n, 4))
    s = pd.Series(["LINESTRING (" + ", ".join(
        f"{x} {y}" for x, y in zip(rx, ry)) + ")"
        for rx, ry in zip(xs, ys)]
        + list(_mixed_batch()))
    got = pd.Series(S.udf_table()["ST_Length"].func(s), dtype=object)
    want = s.map(S._length, na_action="ignore")
    _eq_series(got, want, "ST_Length")


def test_predicate_udfs_share_one_poly5_extract(monkeypatch):
    """The six st_predicates UDF bodies over three distinct input Series
    (parcel, region, shifted parcel) run ONE POLY5 extract per Series:
    the batch memo in lanes.batch_of is what makes the text predicates
    cheap, so a regression to per-UDF parsing shows up here."""
    import pyarrow.compute as pc

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import lanes as LN

    a, b, c, d = _rects(64)

    def rects(dx):
        return pd.Series(
            [f"POLYGON (({A + dx} {B}, {C + dx} {B}, {C + dx} {D}, "
             f"{A + dx} {D}, {A + dx} {B}))"
             for A, B, C, D in zip(a, b, c, d)], dtype=object)

    land, region, shifted = rects(0), rects(5), rects(1)
    calls = []
    real = pc.extract_regex

    def counting(arr, pattern, **kw):
        calls.append(pattern)
        return real(arr, pattern=pattern, **kw)

    monkeypatch.setattr(pc, "extract_regex", counting)
    outs = [S.udf_table()["ST_Intersects"].func(land, region),
            S.udf_table()["ST_Disjoint"].func(land, region),
            S.udf_table()["ST_Touches"].func(land, region),
            S.udf_table()["ST_Overlaps"].func(land, region),
            S.udf_table()["ST_Equals"].func(land, shifted),
            S.udf_table()["ST_Crosses"].func(land, region)]
    assert calls.count(LN.POLY5) == 3, calls
    want = [S._intersects, S._disjoint, S._touches, S._overlaps,
            S._equals, S._crosses]
    for got, fn, other in zip(outs, want, [region] * 4 + [shifted, region]):
        exp = pd.Series([fn(x, y) for x, y in zip(land, other)])
        _eq_series(got, exp, fn.__name__)
