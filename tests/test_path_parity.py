"""Every path an ST_ call can take gives a raw input the same answer.

One fixed seed, no Spark. The corpus is seeded integer and 17-digit
float rects and points plus edge rows the fixtures never hold: CW rings,
a repeated vertex, degenerate rings, a CCW hole, MULTIPOLYGON,
LINESTRING, POLYGON Z, GEOMETRYCOLLECTION, an SRID= prefix, EMPTY,
NULL and a ring the parser rejects. Each expression runs on two paths:

- lone: the registered text UDFs composed call by call (`.func`), as a
  plain `selectExpr` runs them;
- fused: the body `chainrw._Fusion` generates for the projection, whose
  carrier chains run packed.

The paths must agree byte for byte, and each must equal the per-row
scalar kernels exactly, except transformed coordinates, which keep the
engine's 1e-6 contract (the vectorized projection and the scalar one
differ in the last ulp). Vertex order and count, NULLs and errors must
match exactly: a row whose reference raises must make every path raise.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import chainrw as CR
from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import packed as PK

SRC, DST = "EPSG:3857", "EPSG:5880"

EDGE = [
    "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))",                 # CW
    "POLYGON ((0 0, 10 0, 10 0, 10 10, 0 10, 0 0))",           # repeat
    "POLYGON ((0 0, 4 4, 8 8, 0 0))",                          # zero area
    "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0),"
    " (5 5, 10 5, 10 10, 5 10, 5 5))",                         # CCW hole
    "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0),"
    " (5 5, 5 10, 10 10, 10 5, 5 5))",                         # CW hole
    "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (1 1, 2 2, 3 3, 1 1))",
    "POLYGON ((0.5 0.25, 3.75 0.25, 3.75 2.5, 2 4.125, 0.5 2.5))",
    "MULTIPOLYGON (((0 0, 3 0, 3 3, 0 3, 0 0)),"
    " ((10 10, 10 14, 14 14, 14 10, 10 10)))",
    "MULTIPOLYGON (((1 1, 3 1, 3 3, 1 3, 1 1)))",
    "LINESTRING (0 0, 3 4, 3 4, 10 0)",
    "LINESTRING (0.1 0.2, 3.3333333333333335 4.1)",
    "MULTIPOINT (1 2, 3 4)",
    "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 4 1, 0 0 1))",
    "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 3 4),"
    " POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0)))",
    "SRID=4326;POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))",
    "SRID=4326;POINT (1 2)",
    "POLYGON EMPTY",
    "POINT EMPTY",
    "LINESTRING EMPTY",
    "POLYGON ((0 0, 1 1, 0 0))",                 # < 3 vertices: raises
    None,
]


def _rect(a, b, c, d, cw=False) -> str:
    if cw:
        return f"POLYGON (({a} {b}, {a} {d}, {c} {d}, {c} {b}, {a} {b}))"
    return f"POLYGON (({a} {b}, {c} {b}, {c} {d}, {a} {d}, {a} {b}))"


def _corpus(n: int = 300) -> list:
    rng = np.random.default_rng(20261018)
    rows = []
    for i, (x, y, w, h) in enumerate(
            rng.integers(-500, 500, (n, 4)).tolist()):
        rows.append(_rect(x, y, x + 1 + abs(w) % 40, y + 1 + abs(h) % 40,
                          cw=i % 4 == 0))
    for i, (x, y, w, h) in enumerate(rng.uniform(-200, 200, (n, 4)).tolist()):
        rows.append(_rect(*map(repr, (x, y, x + abs(w) / 100 + 1e-3,
                                      y + abs(h) / 100 + 1e-3)),
                          cw=i % 4 == 0))
    for x, y in rng.integers(-500, 500, (n // 3, 2)).tolist():
        rows.append(f"POINT ({x} {y})")
    for x, y in rng.uniform(-200, 200, (n // 3, 2)).tolist():
        rows.append(f"POINT ({x!r} {y!r})")
    rows += EDGE
    return [rows[i] for i in rng.permutation(len(rows))]


def _inside(w, rng) -> str | None:
    """A geometry related to w: a sub-rect or a point of a rect, else
    another corpus row."""
    if w is None or not w.startswith("POLYGON ((") or "," not in w:
        return None
    (a, b), _, (c, d) = [tuple(map(float, p.split()))
                         for p in w[10:-2].split(", ")[:3]]
    if rng.random() < 0.5:
        return f"POINT ({(a + c) / 2!r} {(b + d) / 2!r})"
    return _rect(*map(repr, (a, b, (a + c) / 2, (b + d) / 2)))


def _pairs(ws: list) -> tuple:
    rng = np.random.default_rng(7)
    bs = [_inside(w, rng) or ws[int(rng.integers(len(ws)))] for w in ws]
    return ws, bs


# ------------------------------------------------------------ the paths

def _sql(e) -> str:
    if isinstance(e, str):
        return e
    return f"{e[0]}({', '.join(map(_sql, e[1:]))})"


def _leaves(e) -> set:
    return {e} if isinstance(e, str) else set().union(*map(_leaves, e[1:]))


def _names(e) -> set:
    return set() if isinstance(e, str) else {e[0]}.union(*map(_names, e[1:]))


def _lone(e, cols):
    if isinstance(e, str):
        return cols[e]
    return S.udf_table()[e[0]].func(*(_lone(a, cols) for a in e[1:]))


def _fused(e, cols):
    fz = CR._Fusion()
    fz.emit(CR._Expr(CR._parse(CR.rewrite(_sql(e) + " AS out"))[0]))
    chain = any(not isinstance(a, str) for a in e[1:])
    if chain and not _names(e) <= HYGIENE:
        assert fz.packed(), _sql(e)          # its bodies run packed
    return fz.udf().func(*(cols[leaf] for leaf in fz.leaves))["f0"]


PATHS = {"lone": _lone, "fused": _fused}
HYGIENE = {"ST_GeomFromWKT", "ST_AsText"}


def _plain(v):
    if v is None or v is pd.NA or (isinstance(v, float) and v != v):
        return None
    return v.item() if isinstance(v, np.generic) else v


# ------------------------------------------------------- the references

def _ref_transform(w):
    return GT.to_wkt(PK._transform_tgeom(GT.parse_wkt(w), SRC, DST))


def _ref_envelope(w):
    """JTS getEnvelope with the text surface's areal rule: areal input is
    always the 4-corner polygon."""
    tg = GT.strip_z(GT.parse_wkt(w))
    if tg[0] not in ("POLYGON", "MULTIPOLYGON"):
        return GT.envelope_wkt(tg)
    if not tg[1]:
        return "POLYGON EMPTY"
    x1, y1, x2, y2 = GT.bounds(tg)
    return GT.to_wkt(("POLYGON", [[[(x1, y1), (x2, y1), (x2, y2),
                                    (x1, y2)]]]))


CASES = {
    # name: (expression, per-row reference)
    "astext_transform": (("ST_AsText", ("ST_Transform", "w", "src", "dst")),
                         _ref_transform),
    "npoints_transform": (("ST_NPoints", ("ST_Transform", "w", "src",
                                          "dst")),
                          lambda w: GT.npoints(GT.parse_wkt(
                              _ref_transform(w)))),
    "astext_envelope": (("ST_AsText", ("ST_Envelope", "w")), _ref_envelope),
    "area_envelope": (("ST_Area", ("ST_Envelope", "w")),
                      lambda w: S._area(_ref_envelope(w))),
    "astext_buffer": (("ST_AsText", ("ST_BufferRound", "w", "d", "q")),
                      lambda w: S._buffer_round(w, 0.75, 8)),
    "envelope_geomfromwkt": (("ST_AsText", ("ST_Envelope",
                                            ("ST_GeomFromWKT", "w"))),
                             lambda w: _ref_envelope(S._geom_from_wkt(w))),
    "astext_geomfromwkt": (("ST_AsText", ("ST_GeomFromWKT", "w")),
                           S._geom_from_wkt),
    "npoints_geomfromwkt": (("ST_NPoints", ("ST_GeomFromWKT", "w")),
                            lambda w: GT.npoints(GT.parse_wkt(
                                S._geom_from_wkt(w)))),
    "astext_transform_geomfromwkt": (
        ("ST_AsText", ("ST_Transform", ("ST_GeomFromWKT", "w"), "src",
                       "dst")),
        lambda w: _ref_transform(S._geom_from_wkt(w))),
    "contains": (("ST_Contains", "a", "b"), S._contains),
    "within": (("ST_Within", "a", "b"), lambda a, b: S._contains(b, a)),
    "contains_chain": (("ST_Contains", ("ST_AsText", "a"),
                        ("ST_AsText", "b")), S._contains),
    "within_chain": (("ST_Within", ("ST_AsText", "a"), ("ST_AsText", "b")),
                     lambda a, b: S._contains(b, a)),
}


def _cols(rows: list) -> dict:
    n = len(rows)
    a, b = (pd.Series([r[k] for r in rows], dtype=object) for k in (0, 1))
    return {"w": a, "a": a, "b": b,
            "src": pd.Series([SRC] * n, dtype=object),
            "dst": pd.Series([DST] * n, dtype=object),
            "d": pd.Series([0.75] * n), "q": pd.Series([8] * n)}


def _same_geometry(got: str, want: str) -> bool:
    """Same kind, vertex order and count; coordinates within 1e-6."""
    tg, tw = GT.parse_wkt(got), GT.parse_wkt(want)
    if tg[0] != tw[0] or GT.npoints(tg) != GT.npoints(tw):
        return False
    if GT.to_wkt(GT.map_coords(tg, lambda x, y: (0.0, 0.0))) != \
            GT.to_wkt(GT.map_coords(tw, lambda x, y: (0.0, 0.0))):
        return False
    pg, pw = np.asarray(GT.points_of(tg)), np.asarray(GT.points_of(tw))
    return pg.shape == pw.shape and (pg.size == 0
                                     or np.abs(pg - pw).max() < 1e-6)


@pytest.mark.parametrize("case", sorted(CASES))
def test_paths_equal_each_other_and_the_scalar_kernels(case):
    expr, ref = CASES[case]
    pair = "a" in _leaves(expr)
    ws = _corpus(100 if "buffer" in case else 300)
    rows = list(zip(*_pairs(ws))) if pair else [(w, None) for w in ws]
    want, ok, bad = [], [], []
    for r in rows:
        args = r if pair else r[:1]
        try:
            v = None if any(x is None for x in args) else ref(*args)
        except Exception:                               # noqa: BLE001
            bad.append(r)
            continue
        want.append(_plain(v))
        ok.append(r)
    got = {name: [_plain(v) for v in path(expr, _cols(ok))]
           for name, path in PATHS.items()}
    diff = [(r, g, w) for r, g, w in zip(ok, got["fused"], got["lone"])
            if g != w]
    assert not diff, diff[:3]
    geom = case.startswith("astext_transform")
    diff = [(r, g, w) for r, g, w in zip(ok, got["lone"], want)
            if not (g == w or (geom and None not in (g, w)
                               and _same_geometry(g, w)))]
    assert not diff, diff[:3]
    assert len(ok) > 200 and bad
    for r in bad:
        for name, path in PATHS.items():
            with pytest.raises(Exception):
                path(expr, _cols([r]))


@pytest.mark.parametrize("path", sorted(PATHS))
def test_null_crs_gives_null_rows(path):
    """A NULL source or target CRS gives NULL for its row (Sedona), not
    an error for the whole batch, on every path; a batch whose one CRS
    value is NULL is all NULL."""
    expr = ("ST_AsText", ("ST_Transform", "w", "src", "dst"))
    w = pd.Series(["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", "POINT (1 2)"],
                  dtype=object)
    for src, dst in (([None, SRC], [DST, DST]), ([SRC, SRC], [DST, None])):
        cols = {"w": w, "src": pd.Series(src, dtype=object),
                "dst": pd.Series(dst, dtype=object)}
        got = [_plain(v) for v in PATHS[path](expr, cols)]
        live = 1 if src[0] is None else 0
        assert got[1 - live] is None, got
        assert _same_geometry(got[live], _ref_transform(w[live])), got
    for src, dst in (([None, None], [DST, DST]), ([SRC, SRC], [None, None])):
        cols = {"w": w, "src": pd.Series(src, dtype=object),
                "dst": pd.Series(dst, dtype=object)}
        assert [_plain(v) for v in PATHS[path](expr, cols)] == [None, None]
