"""Packed carrier == text surface, property-tested per family (r7
verdict item 8: the perf change must not silently shift semantics).

Three layers:
  1. kernel/packed.py and the carrier's text edge: packed rows equal the
     typed kernel's geometry (pack_wkb against GT.to_wkb, geomb.decode
     against GT.parse_wkt, the WKT encoder against GT.to_wkt), and the
     vectorized measures equal the typed kernel scalar-for-scalar, over
     hypothesis-generated geometry.
  2. the vectorized convex round buffer equals the scalar walk
     coordinate-for-coordinate (1e-9, trig-libm ulp slack) with the same
     ring structure and vertex counts.
  3. fused == lone through a live SparkSession on a mixed batch (rects,
     L-shapes, lines, points, multis, holes, Z, GC, NULLs): a projection
     through chainrw.select_st runs its chains as packed bodies, the same
     text through plain selectExpr runs the registered UDFs call by call.
     tests/test_path_parity.py covers transform, envelope, buffer,
     GeomFromWKT, contains and within; these cover the rest.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import geomb as GB
from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S
from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import table as TB
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geom as G
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import packed as PK


def _random_wkts(rng: random.Random, n: int) -> list:
    out: list = []
    for pid in range(n):
        x1, y1 = rng.randint(-500, 500), rng.randint(-500, 500)
        w, h = rng.randint(1, 40), rng.randint(1, 40)
        t = pid % 10
        if t == 0:
            out.append(f"POLYGON (({x1} {y1}, {x1+w} {y1}, {x1+w} {y1+h},"
                       f" {x1} {y1+h}))")
        elif t == 1:
            out.append(f"POINT ({x1} {y1})")
        elif t == 2:
            out.append(f"LINESTRING ({x1} {y1}, {x1+w} {y1+h},"
                       f" {x1} {y1+h+3})")
        elif t == 3:
            out.append(f"MULTIPOINT ({x1} {y1}, {x1+w} {y1+h})")
        elif t == 4:
            out.append(f"MULTILINESTRING (({x1} {y1}, {x1+w} {y1}),"
                       f" ({x1} {y1+h}, {x1+w} {y1+h}))")
        elif t == 5:
            out.append(
                f"MULTIPOLYGON ((({x1} {y1}, {x1+w} {y1}, {x1+w} {y1+h},"
                f" {x1} {y1+h})), (({x1+100} {y1}, {x1+110} {y1},"
                f" {x1+110} {y1+10}, {x1+100} {y1+10})))")
        elif t == 6:
            out.append(
                f"POLYGON (({x1} {y1}, {x1+40} {y1}, {x1+40} {y1+40},"
                f" {x1} {y1+40}), ({x1+10} {y1+10}, {x1+10} {y1+20},"
                f" {x1+20} {y1+20}, {x1+20} {y1+10}))")
        elif t == 7:  # L-shape: non-convex, exercises the buffer fallback
            out.append(
                f"POLYGON (({x1} {y1}, {x1+w+10} {y1}, {x1+w+10} {y1+5},"
                f" {x1+5} {y1+5}, {x1+5} {y1+h+10}, {x1} {y1+h+10}))")
        elif t == 8:
            out.append(None)
        else:
            k = 5 + pid % 4  # regular convex k-gon
            pts = ", ".join(
                f"{x1 + 10*math.cos(2*math.pi*i/k):.6f}"
                f" {y1 + 10*math.sin(2*math.pi*i/k):.6f}"
                for i in range(k))
            out.append(f"POLYGON (({pts}))")
    out += ["POLYGON EMPTY", "POINT EMPTY", "LINESTRING EMPTY",
            "MULTIPOLYGON EMPTY", "POINT Z (1 2 3)",
            "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 4 1))",
            "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))"]
    return out


@given(seed=st.integers(0, 10_000))
@settings(max_examples=20, deadline=None)
def test_prop_packed_codec_round_trips(seed):
    rng = random.Random(seed)
    wkts = _random_wkts(rng, 60)
    tg = [GT.parse_wkt(w) if w is not None else None for w in wkts]
    wkb = [GT.to_wkb(t) if t is not None else None for t in tg]
    p = PK.pack_wkb(wkb)
    assert _rows_wkb(p) == wkb
    # the carrier's whole-batch text encoder prints GT.to_wkt's text
    assert GB._wkt_batch(p) == [None if t is None else GT.to_wkt(t)
                                for t in tg]


@pytest.mark.parametrize("extra", [
    [], ["POINT EMPTY"], ["POINT (nan 1)"], ["POINT Z (1 2 3)"],
    ["MULTIPOINT (1 2)"], ["LINESTRING (0 0, 1 1)"]])
def test_points_print_as_the_kernel_prints_them(extra):
    """A batch of only points and NULLs prints in one element-wise join;
    one row of any other shape sends the batch down the general path.
    Either way every row is GT.to_wkt's text."""
    rng = random.Random(3)
    wkts = [None, "POINT (-0 0)", "POINT (1e-17 12345678901234567)"]
    for _ in range(200):
        x, y = rng.uniform(-180, 180), rng.uniform(-90, 90)
        wkts += [f"POINT ({x!r} {y!r})",
                 f"POINT ({rng.randint(-10**6, 10**6)} {round(y)})"]
    wkts += extra
    tg = [None if w is None else GT.parse_wkt(w) for w in wkts]
    p = PK.pack_wkb([None if t is None else GT.to_wkb(t) for t in tg])
    assert GB._wkt_batch(p) == [None if t is None else GT.to_wkt(t)
                                for t in tg]


def _rows_wkb(p) -> list:
    """Each packed row written back through the typed kernel."""
    return [None if p.kind[i] == 0 else GT.to_wkb(PK.row_tgeom(p, i))
            for i in range(p.n)]


def _mixed_column(rng: random.Random, n: int) -> list:
    """Seeded rows of every shape the text edge meets: canonical points,
    lines and multipoints, CCW and CW rect walks (closed and open),
    17-digit floats, a hole, MULTIPOLYGON, Z, EMPTY and NULL."""
    out = []
    for i in range(n):
        x, y = rng.randint(-900, 900), rng.randint(-900, 900)
        w, h = rng.randint(1, 50), rng.randint(1, 50)
        fx, fy = rng.uniform(-200, 200), rng.uniform(-200, 200)
        out.append([
            f"POINT ({x} {y})",
            f"POINT ({fx!r} {fy!r})",
            f"LINESTRING ({x} {y}, {fx!r} {fy!r}, {x + w} {y})",
            f"MULTIPOINT ({x} {y}, {fx!r} {fy!r})",
            f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + h},"
            f" {x} {y + h}, {x} {y}))",
            f"POLYGON (({x} {y + h}, {x + w} {y + h}, {x + w} {y},"
            f" {x} {y}))",                                     # CW, open
            f"POLYGON (({fx!r} {fy!r}, {fx + w!r} {fy!r}, {fx + w!r}"
            f" {fy - h!r}, {fx!r} {fy - h!r}, {fx!r} {fy!r}))",  # CW float
            f"POLYGON (({x} {y}, {x + 40} {y}, {x + 40} {y + 40},"
            f" {x} {y + 40}), ({x + 5} {y + 5}, {x + 5} {y + 9},"
            f" {x + 9} {y + 9}, {x + 9} {y + 5}))",
            f"MULTIPOLYGON ((({x} {y}, {x + w} {y}, {x + w} {y + h},"
            f" {x} {y})), (({x + 99} {y}, {x + 99} {y + 3},"
            f" {x + 96} {y})))",
            f"POINT Z ({x} {y} {w})",
            "LINESTRING EMPTY",
            "POLYGON EMPTY",
            None,
        ][i % 13])
    return out


@pytest.mark.parametrize("n,distinct", [(390, 390), (6500, 91)])
def test_decode_equals_scalar_parse_on_mixed_column(monkeypatch, n,
                                                    distinct):
    """Every row of a mixed-kind column decodes to GT.parse_wkt's
    geometry, whichever piece of the text edge claims it; a column with
    an unparsable row raises as the scalar parser does. The second case
    is a >= 4096-row column of few distinct values, so it takes the
    factorize-and-gather path."""
    import pandas as pd

    rng = random.Random(n)
    base = _mixed_column(rng, distinct)
    rows = [base[i % distinct] for i in range(n)]
    parsed: list = []
    real = GB._parse

    def parse(s):
        parsed.append(len(s))
        return real(s)

    monkeypatch.setattr(GB, "_parse", parse)
    p = GB.decode(pd.Series(rows, dtype=object))
    assert p.n == n
    assert parsed == [n if n < 4096 else len(set(base) - {None})]
    for i, w in enumerate(rows):
        assert PK.row_tgeom(p, i) == (None if w is None
                                      else GT.parse_wkt(w)), w
    bad = pd.Series(rows[:20] + ["POLYGON ((0 0, 1 1, 0 0"], dtype=object)
    with pytest.raises(Exception) as scalar:
        GT.parse_wkt(bad.iloc[-1])
    with pytest.raises(scalar.type):
        GB.decode(bad)


def test_decode_parses_a_cyclic_column_once_per_value(monkeypatch):
    """A column cycling through 1001 distinct values is an eighth
    distinct, so each value is parsed once. Its period is coprime to
    every power-of-two stride: a strided sample of fewer rows than the
    period would see no repeat."""
    import pandas as pd

    base = [f"POINT ({i} {i / 8!r})" for i in range(1001)]
    parsed: list = []
    real = GB._parse

    def parse(s):
        parsed.append(len(s))
        return real(s)

    monkeypatch.setattr(GB, "_parse", parse)
    p = GB.decode(pd.Series([base[i % 1001] for i in range(8192)],
                            dtype=object))
    assert parsed == [1001]
    assert [PK.row_tgeom(p, i) for i in (0, 1001, 8191)] == [
        GT.parse_wkt(base[0]), GT.parse_wkt(base[0]),
        GT.parse_wkt(base[8191 % 1001])]


def _long_float_rings(rng: random.Random, n: int) -> list:
    """CCW star-shaped float rings of 9-40 vertices (holed every third
    row): long enough that a pairwise or blocked sum reorders the
    additions a left-to-right fold makes."""
    out = []
    for i in range(n):
        cx, cy = rng.uniform(-1e5, 1e5), rng.uniform(-1e5, 1e5)
        k = rng.randint(9, 40)
        pts = []
        for a in sorted(rng.uniform(0, 2 * math.pi) for _ in range(k)):
            r = rng.uniform(50, 100)
            pts.append(f"{cx + r * math.cos(a)!r} {cy + r * math.sin(a)!r}")
        ring = ", ".join(pts)
        hole = (f", ({cx - 5!r} {cy - 5!r}, {cx - 5!r} {cy + 5.5!r},"
                f" {cx + 4.25!r} {cy + 5.5!r}, {cx + 4.25!r} {cy - 5!r})"
                if i % 3 == 0 else "")
        out.append(f"POLYGON (({ring}){hole})")
    return out


def test_seq_sums_is_the_left_to_right_fold():
    """Ragged segments, a few of them long enough to finish alone, and
    an all -0.0 segment: every sum is `acc = 0.0; acc += v`, bit for
    bit."""
    rng = np.random.default_rng(11)
    lens = np.concatenate([rng.integers(0, 9, 500), [10_000, 3, 0, 2_000,
                                                     4]])
    vals = rng.standard_normal(int(lens.sum())) * 10.0 ** rng.integers(
        -8, 9, int(lens.sum()))
    off = np.concatenate([[0], np.cumsum(lens)])
    vals[off[-2]:off[-1]] = -0.0
    for segs in (off, off[:-1], np.array([0, 10_000]),
                 np.arange(0, 4 * 7, 7),            # uniform, 3 rows of 7
                 np.arange(0, 101 * 7, 7)):         # uniform, 100 rows
        want = []
        for a, b in zip(segs[:-1], segs[1:]):
            acc = 0.0
            for v in vals[a:b].tolist():
                acc += v
            want.append(acc)
        got = PK._seq_sums(vals, segs)
        assert (got.view(np.int64) == np.array(want).view(np.int64)).all()


@given(seed=st.integers(0, 10_000))
@settings(max_examples=20, deadline=None)
def test_prop_packed_measures_equal_typed_kernel(seed):
    rng = random.Random(seed)
    wkts = _random_wkts(rng, 60) + _long_float_rings(rng, 40)
    tg = [GT.parse_wkt(w) if w is not None else None for w in wkts]
    wkb = [GT.to_wkb(t) if t is not None else None for t in tg]
    p = PK.pack_wkb(wkb)
    ar, npt, ln = PK.area_np(p), PK.npoints_np(p), PK.length_np(p)
    elig, cx, cy = PK.centroid_np(p)
    for i, t in enumerate(tg):
        if t is None or p.kind[i] == -1:
            continue  # null / fallback rows are the scalar path already
        # bit-exact: the per-ring and per-geometry sums fold left to
        # right like the scalar kernels
        assert ar[i] == GT.area_of(t), wkts[i]
        assert npt[i] == GT.npoints(t), wkts[i]
        if elig[i]:
            assert (cx[i], cy[i]) == GB._centroid_scalar(t), wkts[i]
        # one hypot (math.hypot) and one left-to-right fold per
        # geometry, as GT.length takes them
        assert ln[i] == GT.length(t), wkts[i]


@given(seed=st.integers(0, 10_000))
@settings(max_examples=15, deadline=None)
def test_prop_vectorized_buffer_equals_scalar_walk(seed):
    rng = random.Random(seed)
    wkts = [w for w in _random_wkts(rng, 80) if w is not None]
    ds = [(1 + i % 5) / 4.0 for i in range(len(wkts))]
    tg = [GT.parse_wkt(w) for w in wkts]
    wkb = [GT.to_wkb(t) for t in tg]
    p = PK.pack_wkb(wkb)
    fast, coords, off = PK.buffer_round_np(p, np.asarray(ds), 8)
    fi = 0
    n_fast = 0
    for i in np.flatnonzero(fast):
        exp = G.parse_wkt(S._buffer_round(wkts[i], ds[i], 8))
        assert len(exp) == 1 and len(exp[0]) == 1
        er = np.asarray(exp[0][0])
        got = coords[off[fi]:off[fi + 1]]
        assert er.shape == got.shape, wkts[i]
        assert np.abs(er - got).max() < 1e-9, wkts[i]
        fi += 1
        n_fast += 1
    # the generator always yields convex candidates — the fast path must
    # actually engage (guards against a silently-always-fallback build)
    assert n_fast > 0


@given(seed=st.integers(0, 10_000))
@settings(max_examples=10, deadline=None)
def test_prop_packed_transform_equals_scalar(seed):
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import transform as T

    rng = random.Random(seed)
    # metre-scale rects in the 3857 domain
    wkts = []
    for _ in range(30):
        x1 = rng.uniform(-2e6, 2e6)
        y1 = rng.uniform(-2e6, 2e6)
        wkts.append(f"POLYGON (({x1} {y1}, {x1+50} {y1}, {x1+50} {y1+30},"
                    f" {x1} {y1+30}))")
    tg = [GT.parse_wkt(w) for w in wkts]
    p = PK.pack_wkb([GT.to_wkb(t) for t in tg])
    q = PK.transform_np(p, "EPSG:3857", "EPSG:5880")
    for i, t in enumerate(tg):
        exp = GT.map_coords(
            t, lambda x, y: T.transform_point(x, y, "EPSG:3857",
                                              "EPSG:5880"))
        got = PK.row_tgeom(q, i)
        ea = np.asarray(GT.points_of(exp))
        ga = np.asarray(GT.points_of(got))
        assert np.abs(ea - ga).max() < 1e-6


def _repr_rects(rng: random.Random, n: int) -> list:
    """CCW float rects whose coordinates are 17-significant-digit repr
    strings — the spelling a correctly rounded parse must reproduce."""
    out = []
    for i in range(n):
        a, b = rng.uniform(-200, 200), rng.uniform(-200, 200)
        c, d = a + rng.uniform(1e-3, 1), b + rng.uniform(1e-3, 1)
        a, b, c, d = map(repr, (a, b, c, d))
        close = f", {a} {b}" if i % 2 else ""
        out.append(f"POLYGON (({a} {b}, {c} {b}, {c} {d}, {a} {d}{close}))")
    return out


def _hygiene_wkb(s):
    """ST_GeomFromWKT per row, as WKB: typed parse, 2D areal rows
    normalized (spatial._geom_from_wkt without its WKT round trip, which
    would print -0 as 0)."""
    if s is None:
        return None
    kind, data = GT.parse_wkt(s)
    if kind in ("POLYGON", "MULTIPOLYGON"):
        g = G.normalize(data)
        return GT.to_wkb(("POLYGON" if len(g) <= 1 else "MULTIPOLYGON", g))
    return GT.to_wkb((kind, data))


def test_geomfromwkt_b_rect_fast_path_matches_scalar(monkeypatch):
    """The text edge's fast rows skip the scalar parser, and decode +
    the ST_GeomFromWKT body equal the text ST_GeomFromWKT's hygiene — in
    particular float coordinates parse to the same double as float() (a
    non-correctly-rounded parse differs in the last ulp on about one
    17-digit repr in six), and a CW walk is reversed by the hygiene, not
    by the parse."""
    import pandas as pd

    fast_rows = [
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",      # closed integer rect
        "POLYGON ((0 0, 4 0, 4 4, 0 4))",           # open integer rect
        "POLYGON ((0 4, 4 4, 4 0, 0 0, 0 4))",      # CW walk
        "POLYGON ((0 4, 4 4, 4 0, 0 0))",           # open CW walk
        "POLYGON ((-52.35 -11.16, -52.34 -11.16, -52.34 -11.15,"
        " -52.35 -11.15))",                          # float rect (concat)
        "POLYGON ((-56.49 -11.3, -56.480000000000004 -11.3,"
        " -56.480000000000004 -11.290000000000001,"
        " -56.49 -11.290000000000001, -56.49 -11.3))",
        "POLYGON ((1e0 2E1, 4 2E1, 4 3.5e+1, 1e0 3.5e+1, 1e0 2E1))",
        "POLYGON ((007 -01.50, 10 -01.50, 10 4, 007 4, 007 -01.50))",
        "POLYGON ((-0 -0, 4 -0, 4 4, -0 4, -0 -0))",
        "POINT (3 7)",
        "POINT (-0.30000000000000004 1e-7)",
        "LINESTRING (0 0, 5 5)",
        "MULTIPOINT (1.0000000000000002 2, 3 4e2)",
        # not a rect walk; any single ring in canonical spacing
        "POLYGON ((4 0, 0 0, 0 4, 4 4))",           # CW, left first
        "POLYGON ((0 0, 10 0, 10 2, 2 2, 2 10, 0 10))",  # L-shape
        "POLYGON ((0 0, 4.0 0, 4 4, 0 4, 0 0))",    # 4.0 vs 4
        "POLYGON ((0 0, 3 0, 3 3, -0 0))",          # closes on -0 == 0
    ] + _repr_rects(random.Random(7), 400)
    slow_rows = [
        None,
        "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 4 1))",
        "POLYGON ((0 0, 1e999 0, 1e999 4, 0 4, 0 0))",  # non-finite
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))\n",
    ]
    rows = fast_rows + slow_rows
    exp = [_hygiene_wkb(s) for s in rows]
    seen = []
    real = GT.parse_wkt

    def scalar(s):
        seen.append(s)
        return real(s)

    monkeypatch.setattr(GT, "parse_wkt", scalar)
    p = GB._normalize(GB.decode(pd.Series(rows)))
    monkeypatch.setattr(GT, "parse_wkt", real)
    for g, e, s in zip(_rows_wkb(p), exp, rows):
        assert g == e, s
    assert not set(seen) & set(fast_rows), set(seen) & set(fast_rows)
    assert set(seen) == set(slow_rows) - {None}


def test_cw_rect_batch_takes_no_scalar_parse(monkeypatch):
    """A column of CW rect walks, integer and float, closed and open, is
    claimed whole by the text edge: zero GT.parse_wkt calls, the walk
    kept in its order by the decode, and reversed (as the scalar
    ST_GeomFromWKT reverses it) only by the hygiene body."""
    import pandas as pd

    rng = random.Random(13)
    rows = []
    for i in range(600):
        a, b = rng.uniform(-200, 200), rng.uniform(-200, 200)
        c, d = a + rng.uniform(1e-3, 9), b - rng.uniform(1e-3, 9)
        if i % 2:
            a, b, c, d = (str(round(v)) for v in (a, b, c + 1, d - 1))
        else:
            a, b, c, d = map(repr, (a, b, c, d))
        close = f", {a} {b}" if i % 3 else ""
        rows.append(f"POLYGON (({a} {b}, {c} {b}, {c} {d}, {a} {d}{close}))")
    calls = []
    real = GT.parse_wkt
    monkeypatch.setattr(GT, "parse_wkt",
                        lambda s: calls.append(s) or real(s))
    p = GB.decode(pd.Series(rows))
    assert calls == []
    monkeypatch.setattr(GT, "parse_wkt", real)
    for i, w in enumerate(rows):
        assert PK.row_tgeom(p, i) == GT.parse_wkt(w), w
    q = GB._normalize(p)
    for i, w in enumerate(rows):
        assert GT.to_wkt(PK.row_tgeom(q, i)) == S._geom_from_wkt(w), w


def _fused_vs_lone(spark, df, exprs) -> list:
    """(fused row, lone row) pairs of one projection, ordered by id: the
    fused side must actually run packed chains."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import chainrw as CR
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions,
    )

    register_spatial_functions(spark)
    fz = CR._Fusion()
    for e in exprs:
        fz.emit(CR._Expr(CR._parse(e)[0]))
    assert fz.packed()
    fused = CR.select_st(df, "id", *exprs).orderBy("id").collect()
    lone = df.selectExpr("id", *exprs).orderBy("id").collect()
    assert len(fused) == len(lone) > 0
    return list(zip(fused, lone))


@pytest.mark.usefixtures("spark")
def test_binary_surface_equals_text_surface(spark):
    """Fused packed measures == the lone text UDFs (lanes or scalar)."""
    rng = random.Random(404)
    wkts = _random_wkts(rng, 40)
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(wkts)], "id int, g string")
    g = "ST_GeomFromWKT(g)"
    pairs = _fused_vs_lone(spark, df, [
        f"ST_AsText({g}) AS rt", f"ST_Area({g}) AS area",
        f"ST_NPoints({g}) AS np", f"ST_Length({g}) AS len",
        f"ST_Area(ST_BufferRound({g}, 1 + id % 3, 8)) AS buf"])
    for f, t in pairs:
        assert f["rt"] == t["rt"], (f, t)
        assert f["np"] == t["np"], (f, t)
        for k in ("area", "len"):
            a, b = f[k], t[k]
            assert (a is None) == (b is None), (f, t)
            if a is not None and a == a and b == b:
                assert abs(a - b) < 1e-9, (f, t)
        a, b = f["buf"], t["buf"]
        assert (a is None) == (b is None), (f, t)
        if a is not None:
            assert abs(a - b) < 1e-6 * max(1.0, abs(b)), (f, t)


@pytest.mark.usefixtures("spark")
def test_binary_shape_ops_equal_text_surface(spark):
    """Fused ST_Centroid / ST_Envelope / ST_X / ST_Y == their lone text
    UDFs over the mixed corpus (GEOMETRYCOLLECTION rows excluded —
    ST_Centroid raises on GC on BOTH paths)."""
    rng = random.Random(71)
    wkts = [w for w in _random_wkts(rng, 40)
            if w is None or not w.startswith("GEOMETRYCOLLECTION")]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(wkts)], "id int, g string")
    c = "ST_Centroid(ST_GeomFromWKT(g))"
    pairs = _fused_vs_lone(spark, df, [
        f"ST_AsText({c}) AS c", "ST_AsText(ST_Envelope(ST_GeomFromWKT(g)))"
        " AS e", f"ST_X({c}) AS x", f"ST_Y({c}) AS y"])
    n_checked = 0
    for f, t in pairs:
        # both paths fold the centroid sums left to right and print the
        # shortest repr: the same text
        assert f["c"] == t["c"], (f, t)
        n_checked += f["c"] is not None
        assert f["e"] == t["e"], (f, t)
        for k in ("x", "y"):
            va, vt = f[k], t[k]
            if va is None or va != va:
                assert vt is None or vt != vt, (f, t)
            else:
                assert va == vt, (f, t)
    assert n_checked > 10


@pytest.mark.usefixtures("spark")
def test_binary_transform_chain_equals_text(spark):
    """A fused transform chain over float rects == the lone ST_Transform
    within the engine's 1e-6 coordinate contract."""
    rng = random.Random(17)
    rows = []
    for i in range(40):
        x1 = rng.uniform(-2e6, 2e6)
        y1 = rng.uniform(-2e6, 2e6)
        rows.append((i, f"POLYGON (({x1} {y1}, {x1+50} {y1},"
                        f" {x1+50} {y1+30}, {x1} {y1+30}))"))
    df = spark.createDataFrame(rows, "id int, g string")
    pairs = _fused_vs_lone(spark, df, [
        "ST_AsText(ST_Transform(g, 'EPSG:3857', 'EPSG:5880')) AS t"])
    for f, t in pairs:
        ga = np.asarray(GT.points_of(GT.parse_wkt(f["t"])))
        gb = np.asarray(GT.points_of(GT.parse_wkt(t["t"])))
        assert np.abs(ga - gb).max() < 1e-6, f["id"]


def test_fused_struct_udfs_equal_composition(spark):
    """The projection fuser (chainrw.select_st) on the buffer/transform
    measure chains must equal the unfused compositions value-for-value
    on rects, a non-rect slow-path polygon, and NULL — and each fused
    headline query plan must carry exactly ONE ArrowEvalPython node (the
    whole point of the fusion)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import chainrw as CR
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions,
    )

    register_spatial_functions(spark)
    rows = [
        (0, "POLYGON ((10 10, 60 10, 60 40, 10 40))"),          # rect lane
        (1, "POLYGON ((0 0, 40 0, 40 20, 20 20, 20 40, 0 40))"),  # L-shape
        (2, None),                                              # NULL row
        (3, "POLYGON ((5 5, 9 5, 9 9, 5 9, 5 5))"),             # closed rect
    ]
    df = spark.createDataFrame(rows, "id int, g string")
    buf = "ST_BufferRound(ST_GeomFromWKT(g), 0.5, 8)"
    fwd = "ST_Transform(ST_GeomFromWKT(g), 'EPSG:3857', 'EPSG:5880')"
    rt = f"ST_Transform({fwd}, 'EPSG:5880', 'EPSG:3857')"
    exprs = ["id",
             f"ST_Area({buf}) AS b_area", f"ST_NPoints({buf}) AS b_np",
             f"ST_Area({rt}) AS t_area", f"ST_NPoints({rt}) AS t_np",
             f"ST_Coords({fwd}) AS fwd", f"ST_Coords({rt}) AS rt"]
    fused = CR.select_st(df, *exprs)
    assert "fused(" in fused._jdf.queryExecution().executedPlan().toString()
    comp = df.selectExpr(*exprs)
    assert sorted(map(tuple, fused.collect())) == \
        sorted(map(tuple, comp.collect()))
    # plan shape: the three fused headline queries run ONE Python node
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans import pipeline as P
    for fn in (P.st_buffer_round, P.st_transform_roundtrip,
               P.st_transform_utm):
        plan = fn(spark, "/root/testdata/sf0.001") \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, (fn.__name__, plan[:800])


@given(seed=st.integers(0, 100_000))
@settings(max_examples=50, deadline=None)
def test_prop_typed_parse_fast_path_equals_general(seed):
    """r8 parse fast path: canonical POINT/LINESTRING/MULTIPOINT text
    must parse identically through the tight split/float path and the
    general parser. Injecting a double space after the tag word defeats
    the fast path's exact-prefix match WITHOUT changing WKT semantics,
    so the same string parses through both code paths."""
    rng = random.Random(seed)
    nums = [round(rng.uniform(-1e6, 1e6), rng.randint(0, 12))
            for _ in range(6)]
    for tmpl, tag in (
        ("POINT ({} {})", "POINT"),
        ("LINESTRING ({} {}, {} {}, {} {})", "LINESTRING"),
        ("MULTIPOINT ({} {}, {} {})", "MULTIPOINT"),
        # r9: canonical single-ring POLYGON fast path — both the closed
        # (explicit repeat of the first vertex, to_wkt's shape) and the
        # unclosed spelling must match the general parser
        ("POLYGON (({0} {1}, {2} {3}, {4} {5}, {0} {1}))", "POLYGON"),
        ("POLYGON (({0} {1}, {2} {3}, {4} {5}))", "POLYGON"),
    ):
        w = tmpl.format(*nums)
        fast = GT.parse_wkt(w)
        slow = GT.parse_wkt(w.replace(tag + " (", tag + "  (", 1))
        assert fast == slow, w
        # and the canonical round trip is a fixed point either way
        assert GT.parse_wkt(GT.to_wkt(fast)) == fast, w
    # holed / Z / mid-paren polygons must FALL BACK (the fast path only
    # accepts what the general parser parses identically): parse equality
    # against the defeated-prefix spelling pins the fallback routing
    holed = ("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
             " (2 2, 3 2, 3 3, 2 3, 2 2))")
    assert GT.parse_wkt(holed) == GT.parse_wkt(
        holed.replace("POLYGON (", "POLYGON  (", 1))
    zpoly = "POLYGON ((0 0 1, 10 0 1, 10 10 1, 0 0 1))"
    assert GT.parse_wkt(zpoly) == GT.parse_wkt(
        zpoly.replace("POLYGON (", "POLYGON  (", 1))


@pytest.mark.usefixtures("spark")
def test_binary_predicates_equal_text_surface(spark):
    """The fused DE-9IM family == the lone text family over mixed rect /
    L-shape / point pairs (rect×rect rides the vectorized interval law
    off packed bounds on the fused side and off the lanes' rect extract
    on the lone side; everything else the shared scalar kernel)."""
    rng = random.Random(29)
    rows = []
    for i in range(120):
        x1, y1 = rng.randint(0, 50), rng.randint(0, 50)
        w, h = rng.randint(1, 20), rng.randint(1, 20)
        a = (f"POLYGON (({x1} {y1}, {x1+w} {y1}, {x1+w} {y1+h},"
             f" {x1} {y1+h}, {x1} {y1}))")
        if i % 7 == 0:
            a = f"POINT ({x1} {y1})"
        elif i % 11 == 0:
            a = (f"POLYGON (({x1} {y1}, {x1+w+10} {y1}, {x1+w+10} {y1+5},"
                 f" {x1+5} {y1+5}, {x1+5} {y1+h+10}, {x1} {y1+h+10}))")
        x2, y2 = rng.randint(0, 50), rng.randint(0, 50)
        w2, h2 = rng.randint(1, 20), rng.randint(1, 20)
        b = (f"POLYGON (({x2} {y2}, {x2+w2} {y2}, {x2+w2} {y2+h2},"
             f" {x2} {y2+h2}, {x2} {y2}))")
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "id int, a string, b string")
    ga, gb = "ST_AsText(a)", "ST_AsText(b)"
    names = ("Intersects", "Disjoint", "Touches", "Overlaps", "Contains",
             "Within", "Crosses", "Equals")
    pairs = _fused_vs_lone(spark, df, [
        f"ST_{n}({ga}, {gb}) AS {n.lower()}" for n in names]
        + [f"ST_Equals({ga}, {ga}) AS self_eq",
           f"ST_Distance({ga}, {gb}) AS dist"])
    for f, t in pairs:
        for n in names:
            assert f[n.lower()] == t[n.lower()], (f["id"], n)
        assert f["self_eq"] is True and t["self_eq"] is True
        assert abs(f["dist"] - t["dist"]) <= 1e-9 * max(
            1.0, abs(t["dist"])), f["id"]


def test_packed_big_endian_fallback_rows():
    """Big-endian WKB rows become opaque fallback rows that keep their
    ORIGINAL bytes, and the measure, transform and text bodies route
    them through the scalar kernels (GT.parse_wkb reads either byte
    order)."""
    import struct as _s

    import pandas as pd

    # big-endian POINT (3, 4)
    be_pt = b"\x00" + _s.pack(">I", 1) + _s.pack(">2d", 3.0, 4.0)
    # big-endian closed rect POLYGON ((0 0, 4 0, 4 3, 0 3, 0 0))
    ring = [(0, 0), (4, 0), (4, 3), (0, 3), (0, 0)]
    be_poly = (b"\x00" + _s.pack(">I", 3) + _s.pack(">I", 1)
               + _s.pack(">I", 5)
               + b"".join(_s.pack(">2d", float(x), float(y))
                          for x, y in ring))
    le_poly = GT.to_wkb(GT.parse_wkb(be_poly))

    p = PK.pack_wkb([be_pt, be_poly, le_poly, None])
    assert int(p.kind[0]) == -1 and int(p.kind[1]) == -1
    assert int(p.kind[2]) == 3 and int(p.kind[3]) == 0
    assert p.fallback == {0: be_pt, 1: be_poly}
    assert _rows_wkb(p) == [GT.to_wkb(GT.parse_wkb(be_pt)), le_poly,
                            le_poly, None]

    def body(name, *args):
        return TB.CARRIER[name].body(p, *args)

    ar = body("st_area")
    assert ar.iloc[0] == 0.0 and ar.iloc[1] == 12.0 and ar.iloc[2] == 12.0
    npt = body("st_npoints")
    assert npt.iloc[0] == 1 and npt.iloc[1] == 5 and npt.iloc[2] == 5
    # transform routes fallbacks through the scalar path
    crs = pd.Series(["EPSG:3857"] * 4)
    tr = GB.encode(body("st_transform", crs, crs), crs.index)
    assert tr.iloc[3] is None
    for i, raw in enumerate((be_pt, be_poly, le_poly)):
        got, want = GT.parse_wkt(tr.iloc[i]), GT.parse_wkb(raw)
        assert got[0] == want[0]
        assert np.abs(np.asarray(GT.points_of(got))
                      - np.asarray(GT.points_of(want))).max() < 1e-6
    wkt = GB.encode(body("st_astext"), crs.index)
    assert wkt.iloc[0] == "POINT (3 4)"
    assert wkt.iloc[1] == wkt.iloc[2]


def test_packed_z_and_gc_fallback_through_b_surface():
    """Z and GEOMETRYCOLLECTION text decodes to fallback rows (the scalar
    parse, then pack_wkb), and the measure bodies give them the text
    surface's conventions (strip_z areas, GC sums)."""
    import pandas as pd

    s = pd.Series(["POLYGON Z ((0 0 1, 4 0 1, 4 3 1, 0 3 1))",
                   "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)),"
                   " POINT (9 9))"])
    p = GB.decode(s)
    assert p.kind.tolist() == [-1, -1]
    ar = TB.CARRIER["st_area"].body(p)
    assert ar.iloc[0] == 12.0 and ar.iloc[1] == 4.0
    npt = TB.CARRIER["st_npoints"].body(p)
    assert npt.iloc[0] == 5 and npt.iloc[1] == 6
    assert (ar.tolist(), npt.tolist()) == (
        [S._area(w) for w in s], [S._npoints(w) for w in s])
