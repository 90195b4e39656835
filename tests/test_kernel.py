"""Geometry-kernel unit + property tests (SURVEY.md §5: closed-form
rectangle oracles plus Hypothesis invariants for the general paths)."""

from __future__ import annotations

import math

import pytest

from hypothesis import given, settings
from hypothesis import strategies as st

from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geom as G
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import transform as T

RECT = "POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))"

def test_wkt_round_trip():
    g = G.parse_wkt(RECT)
    assert G.to_wkt(g) == RECT
    assert G.parse_wkt(G.to_wkt(g)) == g

def test_multipolygon_round_trip():
    w = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"
    assert G.to_wkt(G.parse_wkt(w)) == w

def test_empty():
    assert G.parse_wkt("POLYGON EMPTY") == []
    assert G.area([]) == 0.0
    assert G.to_wkt([]) == "POLYGON EMPTY"

def test_area_with_hole():
    w = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
    assert G.area(G.parse_wkt(w)) == 96.0

def test_clip_convex_rect():
    g = G.parse_wkt(RECT)
    out = G.clip_convex(g, [(2, 1), (10, 1), (10, 10), (2, 10)])
    assert G.area(out) == 4.0

def test_clip_disjoint_empty():
    g = G.parse_wkt(RECT)
    assert G.clip_convex(g, [(100, 100), (101, 100), (101, 101), (100, 101)]) == []

def test_klee_union_area():
    assert G.union_area_rectilinear([(0, 0, 4, 3), (2, 1, 5, 4), (10, 10, 11, 11)]) == 18.0
    assert G.union_area_rectilinear([]) == 0.0
    # full containment
    assert G.union_area_rectilinear([(0, 0, 10, 10), (2, 2, 3, 3)]) == 100.0

def test_union_decompose_matches_klee():
    rects = [(0, 0, 4, 3), (2, 1, 5, 4), (1, 2, 6, 8), (10, 0, 12, 2)]
    pieces = G.union_rects_decompose(rects)
    # pieces are disjoint and cover the same area
    total = sum((x2 - x1) * (y2 - y1) for x1, y1, x2, y2 in pieces)
    assert total == G.union_area_rectilinear(rects)
    for i, a in enumerate(pieces):
        for b in pieces[i + 1:]:
            assert G.rect_clip(*a, *b) is None

def test_normalize_orientation():
    # CW outer ring gets flipped to CCW
    g = G.parse_wkt("POLYGON ((0 0, 0 3, 4 3, 4 0, 0 0))")
    n = G.normalize(g)
    assert G._ring_signed_area(n[0][0]) > 0
    assert G.area(n) == 12.0

def test_transform_known_point():
    # projection origin: lon0=-54, lat0=0 → false easting/northing exactly
    x, y = T.polyconic_forward(math.radians(-54.0), 0.0)
    assert (x, y) == (5_000_000.0, 10_000_000.0)
    # Brasília (EPSG:5880 published coords ≈ 5.65M E, 8.24M N)
    x, y = T.polyconic_forward(math.radians(-47.8828), math.radians(-15.7939))
    assert abs(x - 5_655_325) < 1000 and abs(y - 8_243_641) < 1000

def test_webmercator_round():
    lon, lat = T.webmercator_inverse(0.0, 0.0)
    assert lon == 0.0 and lat == 0.0

rect_coords = st.tuples(
    st.integers(-100, 100), st.integers(-100, 100),
    st.integers(1, 50), st.integers(1, 50),
)

def _mk(r):
    x, y, w, h = r
    return (x, y, x + w, y + h)

@settings(max_examples=200, deadline=None)
@given(st.lists(rect_coords, min_size=0, max_size=12))
def test_prop_union_bounds(rs):
    rects = [_mk(r) for r in rs]
    u = G.union_area_rectilinear(rects)
    total = sum((x2 - x1) * (y2 - y1) for x1, y1, x2, y2 in rects)
    mx = max(((x2 - x1) * (y2 - y1) for x1, y1, x2, y2 in rects), default=0)
    assert mx <= u <= total  # union ≤ sum, ≥ largest member
    # idempotent under duplication
    assert G.union_area_rectilinear(rects + rects) == u
    # decomposition agrees
    pieces = G.union_rects_decompose(rects)
    assert sum((x2 - x1) * (y2 - y1) for x1, y1, x2, y2 in pieces) == u

@settings(max_examples=200, deadline=None)
@given(rect_coords, rect_coords)
def test_prop_clip_area(a, b):
    ra, rb = _mk(a), _mk(b)
    ga = G.rects_to_geom([ra])
    clip_ring = G.rects_to_geom([rb])[0][0]
    inter = G.clip_convex(ga, clip_ring)
    expected = G.rect_clip(*ra, *rb)
    got = G.area(inter)
    want = (expected[2] - expected[0]) * (expected[3] - expected[1]) if expected else 0.0
    # Sutherland–Hodgman introduces ~1 ulp of roundoff at edge intersections
    assert got == pytest.approx(want, rel=1e-12, abs=1e-12)
    assert got <= min((ra[2] - ra[0]) * (ra[3] - ra[1]),
                      (rb[2] - rb[0]) * (rb[3] - rb[1])) + 1e-9

@settings(max_examples=100, deadline=None)
@given(st.lists(rect_coords, min_size=1, max_size=6))
def test_prop_wkt_round_trip(rs):
    g = G.rects_to_geom([_mk(r) for r in rs])
    assert G.parse_wkt(G.to_wkt(g)) == g

@settings(max_examples=100, deadline=None)
@given(st.floats(-19.9e6, 19.9e6), st.floats(-19.9e6, 19.9e6))
def test_prop_transform_finite(x, y):
    px, py = T.mercator_to_polyconic(x, y)
    assert math.isfinite(px) and math.isfinite(py)

# ---------------------------------------------------------------- rectnp
# The vectorized hot-path twin (kernel/rectnp.py) must agree exactly with
# the pure-Python Klee sweep, including through its memory-capped split path.

import numpy as np

from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import rectnp as R

@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(
    st.integers(0, 40), st.integers(0, 40),
    st.integers(1, 9), st.integers(1, 9)), max_size=40))
def test_prop_rectnp_matches_pure_python(rs):
    rects = [(x, y, x + w, y + h) for x, y, w, h in rs]
    arr = np.array(rects, dtype=np.float64).reshape(-1, 4)
    want = G.union_area_rectilinear(rects)
    assert abs(R.union_area(arr) - want) < 1e-9
    dec = R.union_decompose(arr)
    # pieces are disjoint (their plain area sum == union area) and re-union
    # to the same area
    assert abs(float(((dec[:, 2] - dec[:, 0]) * (dec[:, 3] - dec[:, 1])).sum()) - want) < 1e-9
    assert abs(R.union_area(dec) - want) < 1e-9

def test_rectnp_split_path(monkeypatch):
    monkeypatch.setattr(R, "MAX_CELLS", 64)
    rng = np.random.default_rng(7)
    rects = np.empty((300, 4))
    rects[:, 0] = rng.random(300) * 50
    rects[:, 1] = rng.random(300) * 50
    rects[:, 2] = rects[:, 0] + rng.random(300) * 10
    rects[:, 3] = rects[:, 1] + rng.random(300) * 10
    want = G.union_area_rectilinear([tuple(r) for r in rects])
    assert abs(R.union_area(rects) - want) < 1e-6
    assert abs(R.union_area(R.union_decompose(rects)) - want) < 1e-6

def test_rectnp_degenerate_and_empty():
    assert R.union_area(np.empty((0, 4))) == 0.0
    assert len(R.union_decompose(np.empty((0, 4)))) == 0
    # zero-extent rects are dropped
    assert R.union_area(np.array([[1.0, 1.0, 1.0, 5.0]])) == 0.0

# ---------------------------------------------------------------- boolean
# Phase-2 general boolean ops (kernel/boolean.py): banded trapezoid sweep.

from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import boolean as B

@settings(max_examples=200, deadline=None)
@given(rect_coords, rect_coords)
def test_prop_boolean_rect_closed_forms(a, b):
    ra, rb = _mk(a), _mk(b)
    ga, gb = G.rects_to_geom([ra]), G.rects_to_geom([rb])
    want = (max(0, min(ra[2], rb[2]) - max(ra[0], rb[0]))
            * max(0, min(ra[3], rb[3]) - max(ra[1], rb[1])))
    assert B.intersection_area(ga, gb) == pytest.approx(want, abs=1e-9)
    wu = ((ra[2]-ra[0])*(ra[3]-ra[1]) + (rb[2]-rb[0])*(rb[3]-rb[1]) - want)
    assert B.union_area([ga, gb]) == pytest.approx(wu, abs=1e-9)
    # geometry outputs re-area identically
    assert G.area(B.intersection_geom(ga, gb)) == pytest.approx(want, abs=1e-9)
    assert G.area(B.union_geom([ga, gb])) == pytest.approx(wu, abs=1e-9)

tri_pts = st.tuples(st.integers(0, 20), st.integers(0, 20))

@settings(max_examples=200, deadline=None)
@given(tri_pts, tri_pts, tri_pts, rect_coords)
def test_prop_boolean_matches_convex_clip(p1, p2, p3, r):
    ar2 = ((p2[0]-p1[0])*(p3[1]-p1[1]) - (p2[1]-p1[1])*(p3[0]-p1[0]))
    if ar2 == 0:
        return
    tri = [p1, p2, p3] if ar2 > 0 else [p3, p2, p1]
    rect = _mk(r)
    grect = G.rects_to_geom([rect])
    want = G.area(G.clip_convex(grect, tri))
    assert B.intersection_area(grect, [[tri]]) == pytest.approx(want, abs=1e-7)

def test_boolean_holes_and_self():
    hole = [[[(0, 0), (10, 0), (10, 10), (0, 10)], [(4, 4), (6, 4), (6, 6), (4, 6)]]]
    assert B.union_area([hole]) == pytest.approx(96.0)
    assert B.intersection_area(hole, G.rects_to_geom([(3, 3, 7, 7)])) == pytest.approx(12.0)
    tri = [[[(0, 0), (8, 0), (4, 6)]]]
    assert B.union_area([tri, tri]) == pytest.approx(G.area(tri))
    assert B.intersection_area(tri, tri) == pytest.approx(G.area(tri))
    assert B.intersection_area(tri, []) == 0.0
    assert B.union_area([]) == 0.0

def test_difference_closed_forms():
    ga = G.rects_to_geom([(0, 0, 10, 10)])
    gb = G.rects_to_geom([(5, 5, 15, 15)])
    assert B.difference_area(ga, gb) == pytest.approx(75.0)
    assert G.area(B.difference_geom(ga, gb)) == pytest.approx(75.0)
    # A \ A = empty; A \ disjoint = A
    assert B.difference_area(ga, ga) == pytest.approx(0.0)
    assert B.difference_area(ga, G.rects_to_geom([(50, 50, 60, 60)])) == pytest.approx(100.0)
    # tri minus strip: 18 - 6
    tri = [[[(0, 0), (6, 0), (3, 6)]]]
    strip = G.rects_to_geom([(0, 2, 6, 4)])
    assert B.difference_area(tri, strip) == pytest.approx(12.0)

@settings(max_examples=200, deadline=None)
@given(rect_coords, rect_coords)
def test_prop_difference_partition(a, b):
    # A\B and A∩B partition A
    ga, gb = G.rects_to_geom([_mk(a)]), G.rects_to_geom([_mk(b)])
    assert (B.difference_area(ga, gb) + B.intersection_area(ga, gb)
            == pytest.approx(G.area(ga), abs=1e-9))

def test_spatial_predicates():
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as SP
    outer = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    inner = "POLYGON ((2 2, 4 2, 4 4, 2 4, 2 2))"
    far = "POLYGON ((20 14, 22 14, 22 16, 20 16, 20 14))"
    tri = "POLYGON ((1 1, 5 1, 3 5, 1 1))"
    assert SP._contains(outer, inner) is True
    assert SP._contains(inner, outer) is False
    assert SP._contains(outer, tri) is True        # general shape inside
    assert SP._distance(outer, inner) == 0.0
    assert SP._distance(outer, far) == pytest.approx((10**2 + 4**2) ** 0.5)
    assert SP._centroid(inner) == "POINT (3 3)"
    # centroid with hole: symmetric hole keeps the centroid at the center
    holed = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    assert SP._centroid(holed) == "POINT (5 5)"
    # union2 / difference round-trip areas
    u = SP._union2(outer, far)
    assert G.area(G.parse_wkt(u)) == pytest.approx(104.0)
    d = SP._difference(outer, inner)
    assert G.area(G.parse_wkt(d)) == pytest.approx(96.0)

def test_make_valid_self_intersections():
    # symmetric bowtie: signed area 0, even-odd fill = two triangles (8)
    bow = G.parse_wkt("POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))")
    v = G.make_valid(bow)
    assert G.area(v) == pytest.approx(8.0)
    # valid input passes through normalize untouched (no trapezoid blowup)
    rect = G.parse_wkt("POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))")
    assert G.make_valid(rect) == G.normalize(rect)
    # CW-wound ring is just reoriented
    cw = G.parse_wkt("POLYGON ((0 0, 0 3, 4 3, 4 0, 0 0))")
    assert G.area(G.make_valid(cw)) == 12.0

def test_fuzz_boolean_vs_sutherland_hodgman():
    """Random convex polygons (sorted angles on a circle => simple): the
    banded sweep must agree with the independent Sutherland-Hodgman clip
    and satisfy the inclusion-exclusion identities."""
    import random as _r

    _r.seed(11)
    checked = 0
    while checked < 150:
        def conv(n, cx, cy, r):
            angs = sorted(_r.uniform(0, 2 * math.pi) for _ in range(n))
            return [(cx + r * math.cos(a), cy + r * math.sin(a)) for a in angs]
        ga = [[conv(_r.randint(3, 9), _r.uniform(0, 50), _r.uniform(0, 50), _r.uniform(1, 20))]]
        gb = [[conv(_r.randint(3, 9), _r.uniform(0, 50), _r.uniform(0, 50), _r.uniform(1, 20))]]
        if abs(G._ring_signed_area(ga[0][0])) < 1e-6 or abs(G._ring_signed_area(gb[0][0])) < 1e-6:
            continue
        checked += 1
        aa, ab = G.area(ga), G.area(gb)
        inter = B.intersection_area(ga, gb)
        assert inter == pytest.approx(G.area(G.clip_convex(ga, gb[0][0])), abs=1e-6)
        assert B.union_area([ga, gb]) + inter == pytest.approx(aa + ab, abs=1e-6)
        assert B.difference_area(ga, gb) + inter == pytest.approx(aa, abs=1e-6)

def test_buffer_hole_direction():
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as SP
    H = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    # positive buffer grows the outer ring AND shrinks the hole
    assert G.area(G.parse_wkt(SP._buffer(H, 0.5))) == pytest.approx(120.0)
    # negative buffer shrinks outer, grows hole
    assert G.area(G.parse_wkt(SP._buffer(H, -0.5))) == pytest.approx(72.0)
    # concave L with miter joins: exact rectilinear offset closed form
    L = "POLYGON ((0 0, 10 0, 10 4, 6 4, 6 10, 0 10, 0 0))"
    assert G.area(G.parse_wkt(SP._buffer(L, 1.0))) == pytest.approx(120.0)


def test_rect_fixed_point_fast_path_identity():
    """The vectorized hygiene fast path may ONLY pass a string through when
    the slow kernel path would return it unchanged — probed across canonical
    rects, reoriented/decimal/leading-zero/unclosed/bowtie/multipolygon
    near-misses, and None."""
    import pandas as pd

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S

    cases = [
        "POLYGON ((3 4, 10 4, 10 9, 3 9, 3 4))",        # canonical -> fast
        "POLYGON ((0 0, 5 0, 5 5, 0 5, 0 0))",          # at origin -> fast
        "POLYGON ((-3 -4, 10 -4, 10 9, -3 9, -3 -4))",  # negatives -> fast
        "POLYGON ((3 4, 3 9, 10 9, 10 4, 3 4))",        # CW -> slow
        "POLYGON ((3.5 4, 10 4, 10 9, 3.5 9, 3.5 4))",  # decimal -> slow
        "POLYGON ((03 4, 10 4, 10 9, 03 9, 03 4))",     # leading 0 -> slow
        "POLYGON ((3 4, 10 4, 10 9, 3 9))",             # unclosed -> slow
        "POLYGON ((0 0, 4 0, 0 4, 4 4, 0 0))",          # bowtie -> slow
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)))",   # multi -> slow
        None,
        # 8-digit ints: beyond the lanes' exact-int atom -> slow, and the
        # scalar path still answers them
        "POLYGON ((10000000 0, 20000000 0, 20000000 5, 10000000 5,"
        " 10000000 0))",
        "POLYGON ((3 4, 10 4, 10 9, 3 9, 3 4))\n",      # trailing newline
    ]
    s = pd.Series(cases)
    assert S._rect_fixed_mask(s).tolist() == [True] * 3 + [False] * 9
    for scalar in (S._geom_from_wkt, S._make_valid):
        fast = S._unary_hygiene(s, scalar)
        slow = s.map(scalar, na_action="ignore")
        for f, sl in zip(fast, slow):
            assert (f == sl) or (pd.isna(f) and pd.isna(sl)), (f, sl)
    # ST_Buffer(g, 0) shares the mask; nonzero offsets never take it
    for d in ([0.0] * len(cases), [0.0, 1.0] * (len(cases) // 2)):
        got = S.udf_table()["ST_Buffer"].func(s, pd.Series(d)).tolist()
        assert got == [S._buffer(g, x) for g, x in zip(cases, d)]


# ------------------------------------------------- CRS registry (round 5)


@given(st.floats(-179.9, 179.9), st.floats(-85.0, 85.0))
@settings(max_examples=200, deadline=None)
def test_prop_crs_4326_3857_round_trip(lon, lat):
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import transform as T

    x, y = T.transform_point(lon, lat, "EPSG:4326", "EPSG:3857")
    lon2, lat2 = T.transform_point(x, y, "EPSG:3857", "EPSG:4326")
    assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9


@given(st.integers(1, 60), st.booleans(),
       st.floats(-2.9, 2.9), st.floats(-79.0, 79.0))
@settings(max_examples=200, deadline=None)
def test_prop_crs_utm_round_trip(zone, south, dlon, lat):
    """Any UTM zone, either hemisphere, lon within ±3° of the zone's
    central meridian: projected→geographic→projected lands within 1e-6 m
    (the Newton inverse tolerance is 1e-9 m in projected space)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import transform as T

    if south and lat > 0 or not south and lat < 0:
        lat = -lat
    crs = f"EPSG:{327 if south else 326}{zone:02d}"
    lon = -183.0 + 6.0 * zone + dlon
    e, n = T.transform_point(lon, lat, "EPSG:4326", crs)
    lon2, lat2 = T.transform_point(e, n, crs, "EPSG:4326")
    e2, n2 = T.transform_point(lon2, lat2, "EPSG:4326", crs)
    assert abs(e2 - e) < 1e-6 and abs(n2 - n) < 1e-6
    assert abs(lon2 - lon) < 1e-7 and abs(lat2 - lat) < 1e-7


@given(st.floats(-170.0, 170.0), st.floats(-80.0, 80.0))
@settings(max_examples=200, deadline=None)
def test_prop_crs_composed_pivot(lon, lat):
    """src→dst→src through the lon/lat pivot for the mercator/polyconic
    pair resolved via the REGISTRY (not the fused special case)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import transform as T

    x, y = T.transform_point(lon, lat, "EPSG:4326", "EPSG:3857")
    # registry path 3857 -> 5880 equals the fused special case
    gx, gy = T.transform_point(x, y, "EPSG:3857", "EPSG:5880")
    fx, fy = T.mercator_to_polyconic(x, y)
    assert abs(gx - fx) < 1e-9 and abs(gy - fy) < 1e-9


def test_crs_registry_rejects_unknown():
    import pytest

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import transform as T

    for bad in ("EPSG:2154", "EPSG:32661", "EPSG:32700", "utm", ""):
        with pytest.raises(ValueError):
            T.resolve_crs(bad)


def test_crs_utm_known_value():
    """Pinned external value: EPSG:32722 of (lon −51, lat −10) — on the
    central meridian, so easting is exactly 500000 and northing is
    10^7 − k0·M(10°) (Snyder 8-9 with Δλ = 0)."""
    import math

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import transform as T

    e, n = T.transform_point(-51.0, -10.0, "EPSG:4326", "EPSG:32722")
    assert abs(e - 500000.0) < 1e-6
    expected_n = 10_000_000.0 - 0.9996 * T._meridian_arc(math.radians(10.0))
    assert abs(n - expected_n) < 1e-6
