"""Carrier chains in the projection fuser + ragged packed codec.

Layer 1: which fused nodes run their packed body (`_Fusion.packed`) —
chains of >= 2 calls with packed bodies run packed, lone calls and
hygiene-only chains stay on their text UDFs, and non-ST_ tokens
(strings, identifiers, keywords, arithmetic, parenthesised groups) are
copied verbatim.

Layer 2: `kernel/packed._pack_ragged` engagement tests — single-kind
variable-shape batches must take the vectorized lane (not silently fall
back to the per-row loop), and every packed row written back through
geomtypes.to_wkb must give the input bytes; anomalous batches (mixed
kinds, big-endian, Z, trailing bytes) must bail to the strict loop and
still decode.

Layer 3: Spark parity — the SAME query text through `select_st` (fused,
carrier chains packed) and through plain `selectExpr` (text path) returns identical
rows, on the reference's own chain spelling
(spark_job/process_geodata.py:120-139) and on every registry query that
builds its projection with `select_st`.
"""

from __future__ import annotations

import os
import random
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import chainrw as CR
from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import table as TB
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import geomtypes as GT
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import packed as PK
from geospatial_data_pipeline_spark_sedona_on_aws_spark.kernel import transform as T

from .conftest import SF_SMOKE


# ------------------------------------------------------------- layer 1

def _packed(*exprs) -> list:
    """Python names of the fused nodes that run their packed body, one
    entry per node, sorted."""
    fz = CR._Fusion()
    for e in exprs:
        fz.emit(CR._Expr(CR._parse(CR.rewrite(e))[0]))
    names = {k: fn.func.__name__ for (fn, _), k in fz.nodes.items()}
    return sorted(names[k] for k in fz.packed())


def test_rewrite_simple_chain_moves_to_carrier():
    assert _packed("ST_Area(ST_GeomFromWKT(wkt)) AS a") == \
        ["st_area", "st_geomfromwkt"]


def test_rewrite_geometry_output_gets_text_edge():
    # the buffered geometry surfaces to the user: encoded as WKT there
    assert _packed("ST_BufferRound(ST_GeomFromWKT(w), 0.5, 8) AS g") == \
        ["st_bufferround", "st_geomfromwkt"]


def test_rewrite_three_deep_chain_single_parse_edge():
    assert _packed("ST_Area(ST_Transform(ST_GeomFromWKT(w), 'EPSG:4326',"
                   " 'EPSG:3857'))") == \
        ["st_area", "st_geomfromwkt", "st_transform"]


def test_rewrite_lone_call_left_on_text_path():
    # a single un-chained call: packing would ADD a decode and an encode
    for expr in ("ST_Area(geom_col)", "ST_GeomFromWKT(wkt) AS g",
                 "ST_AsText(g) AS t"):
        assert _packed(expr) == [], expr


def test_rewrite_hygiene_only_chain_left_on_text_path():
    # parse -> serialize with no compute op in between: the text twins
    # are near-identity on canonical input, cheaper than any carrier
    # round trip
    assert _packed("ST_AsText(ST_GeomFromWKT(wkt_pt)) AS pt_rt") == []


def test_rewrite_compute_inside_hygiene_chain_rewrites():
    assert _packed("ST_AsText(ST_Centroid(ST_GeomFromWKT(w))) AS c") == \
        ["st_astext", "st_centroid", "st_geomfromwkt"]


def test_rewrite_binary_predicate_both_edges():
    # two distinct leaves: two ST_GeomFromWKT nodes, one decode each
    assert _packed("ST_Intersects(ST_GeomFromWKT(a), ST_GeomFromWKT(b))"
                   " AS hit") == \
        ["st_geomfromwkt", "st_geomfromwkt", "st_intersects"]


def test_rewrite_mixed_edges_one_parsed_one_raw():
    # only one geometry arg is itself a producer chain; the other is a
    # GeomFromWKT node of its own leaf
    assert _packed("ST_Distance(ST_Centroid(ST_GeomFromWKT(a)), "
                   "ST_GeomFromWKT(b))") == \
        ["st_centroid", "st_distance", "st_geomfromwkt", "st_geomfromwkt"]


def test_rewrite_preserves_non_st_tokens_verbatim():
    e = ("CASE WHEN upper(name) = 'ST_FAKE(X)' THEN round("
         "ST_Area(ST_GeomFromWKT(w)) * 100, 2) ELSE length('a,b((') END"
         " AS v")
    fz, out = _fuse(e)
    # the string literals and every non-ST_ token survive untouched
    assert out == [e.replace("ST_Area(ST_GeomFromWKT(w))", "__fz.f0")]
    assert _packed(e) == ["st_area", "st_geomfromwkt"]


def test_rewrite_unknown_st_name_blocks_that_node_but_not_args():
    # ST_ConvexHull has no packed body: it runs its text UDF, and the
    # hygiene-only GeomFromWKT inside stays text too
    assert _packed("ST_ConvexHull(ST_GeomFromWKT(w))") == []
    assert _packed("ST_NPoints(ST_ConvexHull(ST_GeomFromWKT(w)))") == []
    # ... while a chain INSIDE its argument still forms
    assert _packed("ST_NPoints(ST_ConvexHull(ST_Centroid("
                   "ST_GeomFromWKT(w))))") == ["st_centroid",
                                               "st_geomfromwkt"]


# parenthesised (non-call) groups inside a call's arguments: the group's
# ')' must not close the enclosing call, and calls inside the group stay
# visible to the fuser
PAREN_EXPRS = [
    ("ST_Distance(ST_GeomFromWKT((w)), ST_Centroid(ST_GeomFromWKT(v)))"
     " AS d",
     "st_centroid st_distance st_geomfromwkt st_geomfromwkt"),
    ("ST_Area(ST_BufferRound(w, (1 + p) / 4.0, 8)) AS a",
     "st_area st_bufferround"),
]


@pytest.mark.parametrize("expr,want", PAREN_EXPRS)
def test_rewrite_parenthesised_arguments(expr, want):
    assert _packed(expr) == want.split()
    fz, _ = _fuse(expr)
    assert {"(w)", "w"} & set(fz.leaves)


def test_rewrite_case_insensitive_names():
    assert _packed("st_area(st_geomfromwkt(wkt)) AS a") == \
        ["st_area", "st_geomfromwkt"]


def test_shared_node_joins_the_chain():
    # ST_GeomFromWKT(w) is one node read by a hygiene output and by a
    # compute chain: it runs packed once, and rt is its WKT encoding
    assert _packed("ST_AsText(ST_GeomFromWKT(w)) AS rt",
                   "ST_Area(ST_GeomFromWKT(w)) AS a") == \
        ["st_area", "st_astext", "st_geomfromwkt"]


def test_coordinate_map_chains_run_packed():
    # a coordinate map is a body, not the end of the chain: no WKT is
    # written after it and parsed again by its consumer
    assert _packed("ST_Area(ST_Rotate(g, t)) AS a") == \
        ["st_area", "st_rotate"]
    assert _packed("ST_X(ST_Centroid(ST_Affine(g, 0D, -1D, 1D, 0D, 0D,"
                   " 0D))) AS x") == ["st_affine", "st_centroid", "st_x"]
    assert _packed("ST_AsText(ST_Expand(ST_SnapToGrid(ST_Translate("
                   "ST_Scale(ST_ReducePrecision(g, 1), 2D, 3D), 1D, 1D),"
                   " 0.5D), 1D)) AS w") == \
        ["st_astext", "st_expand", "st_reduceprecision", "st_scale",
         "st_snaptogrid", "st_translate"]


def test_coords_chain_runs_packed():
    assert _packed("ST_Coords(ST_Transform(ST_GeomFromWKT(w),"
                   " 'EPSG:4326', 'EPSG:32722')) AS c") == \
        ["st_coords", "st_geomfromwkt", "st_transform"]


# ------------------------------------------------------------- layer 2

def _wkb(w: str) -> bytes:
    return GT.to_wkb(GT.parse_wkt(w))


def _rows_wkb(p) -> list:
    """Each packed row written back through the typed kernel."""
    return [None if p.kind[i] == 0 else GT.to_wkb(PK.row_tgeom(p, i))
            for i in range(p.n)]


def _codec_case(rng: random.Random, kind: str) -> str:
    x, y = rng.randint(-300, 300), rng.randint(-300, 300)
    if kind == "POINT":
        return f"POINT ({x} {y})"
    if kind == "LINESTRING":
        n = rng.randint(2, 9)
        pts = ", ".join(f"{x+i} {y+i*i%7}" for i in range(n))
        return f"LINESTRING ({pts})"
    if kind == "MULTIPOINT":
        n = rng.randint(1, 6)
        pts = ", ".join(f"{x+i} {y-i}" for i in range(n))
        return f"MULTIPOINT ({pts})"
    if kind == "MULTILINESTRING":
        parts = []
        for j in range(rng.randint(1, 4)):
            n = rng.randint(2, 5)
            parts.append("(" + ", ".join(
                f"{x+i+10*j} {y+i}" for i in range(n)) + ")")
        return f"MULTILINESTRING ({', '.join(parts)})"
    # POLYGON with 1-3 rings, varying vertex counts
    w, h = rng.randint(20, 60), rng.randint(20, 60)
    rings = [f"({x} {y}, {x+w} {y}, {x+w} {y+h}, {x} {y+h}, {x} {y})"]
    for j in range(rng.randint(0, 2)):
        hx, hy = x + 2 + 5 * j, y + 2
        rings.append(f"({hx} {hy}, {hx} {hy+3}, {hx+3} {hy+3},"
                     f" {hx+3} {hy})")
    return f"POLYGON ({', '.join(rings)})"


@pytest.mark.parametrize("kind", ["POINT", "LINESTRING", "MULTIPOINT",
                                  "MULTILINESTRING", "POLYGON"])
def test_ragged_lane_engages_and_round_trips(kind):
    rng = random.Random(hash(kind) & 0xFFFF)
    wkts = [_codec_case(rng, kind) for _ in range(50)]
    wkts[7] = None
    wkts[23] = None
    wkb = [None if w is None else _wkb(w) for w in wkts]
    # the vectorized lane must ENGAGE on a single-kind ragged batch
    ragged = PK._pack_ragged(wkb)
    assert ragged is not None, f"{kind}: ragged decode did not engage"
    # ... and what pack_wkb returns must hold the same geometry
    assert _rows_wkb(PK.pack_wkb(wkb)) == wkb


def test_ragged_lane_polygon_closing_dup_and_open_rings():
    # WKT parser accepts open rings; to_wkb closes them — both spellings
    # of the same rect must decode to the same packed rows
    a = _wkb("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")
    b = _wkb("POLYGON ((0 0, 4 0, 4 4, 0 4))")
    assert a == b
    p = PK._pack_ragged([a, a, b])
    assert p is not None
    assert (p.ring_len() == 4).all()
    assert _rows_wkb(p) == [a, a, b]


def test_ragged_lane_with_empties():
    wkb = [_wkb("LINESTRING (0 0, 3 4)"), _wkb("LINESTRING EMPTY"),
           None, _wkb("LINESTRING (1 1, 2 2, 3 3)")]
    p = PK._pack_ragged(wkb)
    assert p is not None
    assert _rows_wkb(p) == wkb


def test_ragged_lane_bails_on_anomalies():
    ls = _wkb("LINESTRING (0 0, 3 4)")
    pt = _wkb("POINT (1 2)")
    # mixed kinds
    assert PK._pack_ragged([ls, pt]) is None
    # big-endian byte
    assert PK._pack_ragged([b"\x00" + ls[1:]]) is None
    # Z coordinates (code 1002 / 0x80000001 style both differ from 1..5)
    z = GT.to_wkb(GT.parse_wkt("POINT Z (1 2 3)"))
    assert PK._pack_ragged([z]) is None
    # trailing garbage bytes
    assert PK._pack_ragged([ls + b"\x00"]) is None
    # truncated payload
    assert PK._pack_ragged([ls[:-8]]) is None
    # ... and pack_wkb still handles each via the strict path
    mixed = [ls, pt, z, None]
    assert _rows_wkb(PK.pack_wkb(mixed)) == mixed


def test_ragged_lane_multipoint_member_headers():
    w = _wkb("MULTIPOINT (1 2, 3 4, 5 6)")
    p = PK._pack_ragged([w])
    assert p is not None
    out = _rows_wkb(p)[0]
    # member headers present every 21 bytes after the 9-byte row header
    assert out == w
    assert out[9] == 1 and struct.unpack("<I", out[10:14])[0] == 1


def test_ragged_multipoint_empty_member_drops():
    # POINT EMPTY members (NaN NaN) are dropped by the packed decode,
    # matching the typed kernel's canonicalization
    raw = struct.pack("<bI", 1, 4) + struct.pack("<I", 2)
    raw += struct.pack("<bI2d", 1, 1, 1.0, 2.0)
    raw += struct.pack("<bI2d", 1, 1, float("nan"), float("nan"))
    p = PK._pack_ragged([raw])
    assert p is not None
    assert int(p.ring_len()[0]) == 1
    assert np.allclose(p.coords, [[1.0, 2.0]])


# ------------------------------------------------------------- layer 3

@pytest.mark.usefixtures("spark")
def test_select_st_equals_text_path_on_reference_chain(spark):
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions,
    )

    register_spatial_functions(spark)
    rng = random.Random(99)
    rows = []
    for i in range(400):
        x, y = rng.randint(-50, 50), rng.randint(-50, 50)
        w, h = rng.randint(1, 9), rng.randint(1, 9)
        rows.append((i, f"POLYGON (({x} {y}, {x+w} {y}, {x+w} {y+h},"
                        f" {x} {y+h}))",
                     f"LINESTRING ({x} {y}, {x+w} {y+h}, {x} {y+h})"))
    rows.append((len(rows), None, None))
    rows.append((len(rows), "POLYGON Z ((0 0 1, 4 0 1, 4 4 1, 0 4 1))",
                 "GEOMETRYCOLLECTION (POINT (1 2))"))
    df = spark.createDataFrame(rows, "id long, wkt string, lwkt string")
    exprs = [
        "id",
        "ST_AsText(ST_GeomFromWKT(wkt)) AS rt",
        "ST_Area(ST_BufferRound(ST_GeomFromWKT(wkt), 0.5, 8))"
        " AS buf_area",
        "ST_NPoints(ST_BufferRound(ST_GeomFromWKT(wkt), 0.5, 8))"
        " AS buf_np",
        "ST_AsText(ST_Centroid(ST_GeomFromWKT(wkt))) AS ctr",
        "ST_AsText(ST_Envelope(ST_GeomFromWKT(lwkt))) AS env",
        "ST_Length(ST_GeomFromWKT(lwkt)) AS ln",
        "ST_Distance(ST_Centroid(ST_GeomFromWKT(wkt)),"
        " ST_GeomFromWKT(lwkt)) AS d",
        "ST_Intersects(ST_Envelope(ST_GeomFromWKT(wkt)),"
        " ST_GeomFromWKT(lwkt)) AS hit",
        # parenthesised arguments (see PAREN_EXPRS)
        "ST_Distance(ST_GeomFromWKT((lwkt)), ST_Centroid(ST_GeomFromWKT(wkt)))"
        " AS d_paren",
        "ST_Area(ST_BufferRound(wkt, (1 + id % 5) / 4.0, 8)) AS buf_paren",
    ]
    # guard: carrier chains actually form on these (not a silent no-op)
    assert _packed(*exprs)
    got = CR.select_st(df, *exprs).orderBy("id").collect()
    exp = df.selectExpr(*exprs).orderBy("id").collect()
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        for k in g.asDict():
            gv, ev = g[k], e[k]
            if isinstance(gv, float) and isinstance(ev, float):
                assert abs(gv - ev) <= 1e-9 * max(1.0, abs(ev)), (k, g, e)
            else:
                assert gv == ev, (k, g, e)


# ------------------------------------------------- projection fuser

def _fuse(*exprs):
    fz = CR._Fusion()
    return fz, [fz.emit(CR._Expr(CR._parse(e)[0])) for e in exprs]


def test_fuser_shares_subtrees_and_leaves():
    fz, out = _fuse("ST_X(ST_Centroid(g)) AS x", "ST_Y(ST_Centroid(g)) AS y",
                    "ST_Area(g) + 1 AS a")
    assert out == ["__fz.f0 AS x", "__fz.f1 AS y", "__fz.f2 + 1 AS a"]
    assert list(fz.leaves) == ["g"]
    # ST_Centroid(g) is one node read by both coordinates
    assert len(fz.nodes) == 4 and fz.calls == 5


def test_fuser_dedups_aliases_by_function_object():
    # ST_ForceRHR is registered as the same function as ST_ForcePolygonCW
    fz, out = _fuse("ST_AsText(ST_ForcePolygonCW(g)) AS cw",
                    "ST_AsText(ST_ForceRHR(g)) AS rhr")
    assert out == ["__fz.f0 AS cw", "__fz.f0 AS rhr"]
    assert len(fz.nodes) == 2


def test_fuser_reads_struct_fields():
    fz, out = _fuse("ST_X(ST_MaximumInscribedCircle(g).center) AS cx",
                    "ST_MaximumInscribedCircle(g).radius AS r")
    assert out == ["__fz.f0 AS cx", "__fz.f1 AS r"]
    assert len(fz.nodes) == 2          # the solver runs once
    # a whole struct is not fusable; its consumer stays
    _, out = _fuse("ST_MaximumInscribedCircle(g) AS m")
    assert out == ["ST_MaximumInscribedCircle(g) AS m"]


def test_fuser_stops_at_jvm_boundaries():
    # a UDF inside a JVM expression is fused on its own; the outer UDF
    # call stays where it is, reading the fused field
    fz, out = _fuse("ST_Buffer(g, ST_Area(g) * 0.1) AS b")
    assert out == ["ST_Buffer(g, __fz.f0 * 0.1) AS b"]
    # UDF-free JVM arguments are leaves, deduplicated by text
    fz, out = _fuse("ST_Area(ST_Buffer(concat(a, b), 1)) AS x",
                    "ST_Length(concat(a, b)) AS y")
    assert out == ["__fz.f0 AS x", "__fz.f1 AS y"]
    assert list(fz.leaves) == ["concat(a, b)", "1"]


@pytest.mark.usefixtures("spark")
def test_select_st_fuses_only_two_or_more_calls(spark):
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions,
    )

    register_spatial_functions(spark)
    df = spark.createDataFrame([(1, "POINT (1 2)")], "id long, g string")
    one = CR.select_st(df, "id", "ST_X(g) AS x")
    assert "fused(" not in one._jdf.queryExecution().executedPlan().toString()
    two = CR.select_st(df, "id", "ST_X(g) AS x", "ST_Y(g)", "*")
    plan = two._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [fused(") == 1
    # unaliased outputs keep the name of their unfused spelling; `*`
    # does not leak the fused struct
    assert two.columns == ["id", "x", "ST_Y(g)", "id", "g"]
    assert tuple(two.collect()[0]) == (1, 1.0, 2.0, 1, "POINT (1 2)")


#: every registry query that builds its projection with select_st
SELECT_ST_QUERIES = [
    "st_affine_ops", "st_measure_ops", "st_shape_edit_ops",
    "st_edit_line_ops", "st_misc_ops", "st_from_text_ops",
    "st_orientation_ops", "st_clearance_ops", "st_buffer_round",
    "st_transform_roundtrip", "st_transform_utm", "st_point_line_ops",
    "st_name_parity_ops", "st_binary_carrier_ops", "st_buffer_line_point",
    "st_triangulate_ops", "st_concave_hull", "st_subdivide_ops",
    "st_grid_ops", "st_polygonize_ops", "st_geohash_decode",
    "st_geomcollection_ops", "st_linear_ref",
]


@pytest.mark.parametrize("name", SELECT_ST_QUERIES)
def test_select_st_query_equals_plain_select(spark, monkeypatch, name):
    """The registry query through select_st (chain rewrite + fuser)
    returns the rows its own expressions give through plain selectExpr."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    got = rows(QUERIES[name](spark, SF_SMOKE))
    monkeypatch.setattr(CR, "select_st", lambda df, *e: df.selectExpr(*e))
    exp = rows(QUERIES[name](spark, SF_SMOKE))
    assert len(got) == len(exp) > 0
    for g, e in zip(got, exp):
        for gv, ev in zip(g, e):
            if isinstance(gv, float) and isinstance(ev, float):
                assert abs(gv - ev) <= 1e-9 * max(1.0, abs(ev)), (g, e)
            else:
                assert gv == ev, (g, e)


@pytest.mark.parametrize("name", SELECT_ST_QUERIES)
def test_select_st_query_plan_shape(spark, name):
    """Exactly one ArrowEvalPython node, and every distinct UDF subtree
    is evaluated under exactly one result id."""
    import re
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    import plan_audit as PA

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES

    plan = QUERIES[name](spark, SF_SMOKE)._jdf.queryExecution() \
        .executedPlan().toString()
    lines = [ln for ln in plan.splitlines() if "ArrowEvalPython [" in ln]
    assert len(lines) == 1, plan
    ids: dict = {}
    for ln in lines:
        for out in PA._udf_outputs(ln):
            m = re.fullmatch(r"\s*(.*\))#(\d+)L?\s*", out)
            ids.setdefault(re.sub(r"\)#\d+L?", ")", m.group(1)),
                           set()).add(m.group(2))
    assert all(len(v) == 1 for v in ids.values()), ids
    assert "udf-recompute" not in PA.audit(plan)["flags"], plan


# ---------------------------------------- ST_Union_Aggr auto-salt (r9)

def test_salt_rewrite_canonical_shapes():
    f = CR.salt_union_aggr_sql
    got = f("SELECT region_id, ST_Union_Aggr(g) AS u FROM t GROUP BY region_id")
    assert "pmod(xxhash64(g), 16)" in got
    assert got.count("ST_Union_Aggr") == 2          # partial + final
    # nested-in-expression aggregate rewrites too
    got2 = f("SELECT region_id % 4 AS rk, CAST(round(ST_Area("
             "ST_Union_Aggr(g))) AS BIGINT) AS a FROM t GROUP BY region_id % 4")
    assert "ST_Union_Aggr(__ua_p0)" in got2 and "GROUP BY rk" in got2
    # two aggregates over the SAME arg share one partial
    got3 = f("SELECT k, ST_Area(ST_Union_Aggr(g)) AS a, "
             "ST_NPoints(ST_Union_Aggr(g)) AS n FROM t GROUP BY k")
    assert got3.count("AS __ua_p0") == 1 and "__ua_p1" not in got3


def test_salt_rewrite_bails_on_unrecognized_shapes():
    f = CR.salt_union_aggr_sql
    keep = [
        # mixed with another aggregate: the split is not union-shaped
        "SELECT k, count(*) AS n, ST_Union_Aggr(g) AS u FROM t GROUP BY k",
        # HAVING / ORDER BY / LIMIT / DISTINCT / WITH at depth 0
        "SELECT k, ST_Union_Aggr(g) AS u FROM t GROUP BY k HAVING k > 1",
        "SELECT k, ST_Union_Aggr(g) AS u FROM t GROUP BY k ORDER BY k",
        "SELECT k, ST_Union_Aggr(g) AS u FROM t GROUP BY k LIMIT 5",
        "SELECT DISTINCT k, ST_Union_Aggr(g) AS u FROM t GROUP BY k",
        "WITH x AS (SELECT 1) SELECT k, ST_Union_Aggr(g) AS u FROM t GROUP BY k",
        # no GROUP BY at all
        "SELECT ST_Union_Aggr(g) AS u FROM t",
        # aggregate without an alias
        "SELECT k, ST_Union_Aggr(g) FROM t GROUP BY k",
        # plain statement without the name
        "SELECT k, count(*) AS n FROM t GROUP BY k",
    ]
    for s in keep:
        assert f(s) == s, s


@pytest.mark.usefixtures("spark")
def test_registered_union_aggr_hot_key_fans_out(spark):
    """The plain SQL spelling through the engine's SQL door executes as
    the salted two-phase plan: a hot key's rows split across 16 salt
    groups in phase 1 (two AggregateInPandas stages, the first exchange
    hash-partitioned on (k, pmod(xxhash64(g), 16))), and the result is
    IDENTICAL to the unsalted single-phase aggregate."""
    rows = []
    for i in range(3000):                 # one hot key...
        x, y = (i % 60) * 2, (i // 60) * 2
        rows.append((1, f"POLYGON (({x} {y}, {x+1} {y}, {x+1} {y+1},"
                        f" {x} {y+1}))"))
    for i in range(40):                   # ...and a few cold ones
        x = i * 3
        rows.append((2 + i % 3, f"POLYGON (({x} 500, {x+2} 500,"
                                f" {x+2} 502, {x} 502))"))
    spark.createDataFrame(rows, "k long, g string") \
        .createOrReplaceTempView("ua_hot")
    q = "SELECT k, ST_Union_Aggr(g) AS u FROM ua_hot GROUP BY k"
    salted = CR.sql_st(spark, q)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    n_agg = (plan.count("ArrowAggregatePython")       # Spark 4.x name
             + plan.count("AggregateInPandas"))       # 3.x name
    assert n_agg >= 2, plan
    assert "pmod" in plan and "xxhash64" in plan
    got = sorted(map(tuple, salted.collect()))
    exact = sorted(map(tuple, spark.sql(q).collect()))
    assert got == exact


def test_box_predicate_boundary_parity_binary_equals_text():
    """Covers-semantics pin for the r9 box lanes (point boxes join the
    vectorized interval law): points ON rect boundaries, at corners,
    outside, and point×point pairs must agree EXACTLY with the text
    kernel — the engine's documented ST_Contains is covers (boundary
    counts), NOT strict JTS contains; a 'correct-looking' strict law red
    the st_point_line_ops oracle by 149k rows."""
    import pandas as pd

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import geomb as GB
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S

    rect = "POLYGON ((0 0, 10 0, 10 10, 0 10))"
    pts = ["POINT (0 5)", "POINT (5 5)", "POINT (0 0)", "POINT (10 10)",
           "POINT (11 5)", "POINT (10 0)", "POINT (1 2)", "POINT EMPTY"]
    a = pd.Series([rect] * len(pts) + ["POINT (1 2)", "POINT (1 2)"],
                  dtype=object)
    b = pd.Series(pts + ["POINT (1 2)", "POINT (3 4)"], dtype=object)
    wa = TB.CARRIER["st_geomfromwkt"].body(GB.decode(a))
    wb = TB.CARRIER["st_geomfromwkt"].body(GB.decode(b))
    for name in ("contains", "within", "intersects", "disjoint", "equals"):
        got = TB.CARRIER[f"st_{name}"].body(wa, wb).tolist()
        tfn = {
            "contains": S._contains,
            "within": lambda x, y: S._contains(y, x),
            "intersects": S._intersects,
            "disjoint": lambda x, y: (None if S._intersects(x, y) is None
                                      else not S._intersects(x, y)),
            "equals": S._equals,
        }[name]
        exp = [tfn(x, y) for x, y in zip(a, b)]
        assert got == exp, (name, got, exp)


@given(seed=st.integers(0, 100_000))
@settings(max_examples=30, deadline=None)
def test_nonareal_fixed_mask_is_identity(seed):
    """Every string _nonareal_fixed_mask accepts must be an exact fixed
    point of parse→to_wkt (the ST_GeomFromWKT / non-areal ST_MakeValid
    contract); adversarial near-misses (floats, single-member multis,
    leading zeros, extra spaces, Z, 8-digit ints, a trailing newline)
    must be REJECTED by the mask and then agree with the scalar path
    anyway."""
    import pandas as pd

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S

    rng = random.Random(seed)
    rows = []
    for _ in range(40):
        x, y = rng.randint(-10**6, 10**6), rng.randint(-10**6, 10**6)
        t = rng.randrange(8)
        if t == 0:
            rows.append(f"POINT ({x} {y})")
        elif t == 1:
            n = rng.randint(2, 6)
            rows.append("LINESTRING (" + ", ".join(
                f"{x+i} {y}" for i in range(n)) + ")")
        elif t == 2:
            rows.append(f"MULTIPOINT ({x} {y}, {x+1} {y+1})")
        elif t == 3:
            rows.append(f"MULTILINESTRING (({x} {y}, {x+1} {y}),"
                        f" ({x} {y+1}, {x+2} {y+2}, {x} {y}))")
        elif t == 4:   # duplicates / unsorted members stay verbatim
            rows.append(f"MULTIPOINT ({x} {y}, {x} {y})")
        elif t == 5:   # near-misses the mask must reject
            rows.append(rng.choice([
                f"POINT ({x}.5 {y})", f"MULTIPOINT ({x} {y})",
                f"MULTILINESTRING (({x} {y}, {x+1} {y}))",
                f"POINT (0{abs(x) % 10} {y})", f"POINT  ({x} {y})",
                f"POINT Z ({x} {y} 1)", "LINESTRING EMPTY",
                f"POINT ({x} {y}) ",
            ]))
        elif t == 6:
            rows.append(None)
        else:
            rows.append(f"POLYGON (({x} {y}, {x+3} {y}, {x+3} {y+3},"
                        f" {x} {y+3}, {x} {y}))")
    # pinned edges: 3-point MULTILINESTRING members are claimed; 8-digit
    # ints and a trailing newline are not (the scalar path answers them)
    edges = [
        ("MULTILINESTRING ((0 0, 1 0, 1 1), (2 2, 3 3))", True),
        ("MULTILINESTRING ((0 0, 1 0), (2 2, 3 3), (4 4, 5 5, 6 7))", True),
        ("POINT (-5 9999999)", True),
        ("POINT (12345678 0)", False),
        ("LINESTRING (0 0, 12345678 1)", False),
        ("POINT (1 2)\n", False),
        ("LINESTRING (0 0, 1 1)\n", False),
        (None, False),
    ]
    rows += [w for w, _ in edges]
    ser = pd.Series(rows, dtype=object)
    mask = S._nonareal_fixed_mask(ser)
    assert mask[-len(edges):].tolist() == [m for _, m in edges]
    for w, m in zip(rows, mask):
        if w is None:
            assert not m
            continue
        exp = S._geom_from_wkt(w)
        if m:
            assert exp == w, f"mask accepted a non-fixed-point: {w} -> {exp}"
    # the full UDF path equals the scalar path on the whole batch
    got = S.udf_table()["ST_GeomFromWKT"].func(ser)
    exp_all = [None if w is None else S._geom_from_wkt(w) for w in rows]
    assert got.tolist() == exp_all
    got_mv = S.udf_table()["ST_MakeValid"].func(ser)
    exp_mv = [None if w is None else S._make_valid(w) for w in rows]
    assert got_mv.tolist() == exp_mv


# ------------------------------------------------ fused kernels (r13)

def test_fuse_npoints_segmentize_rewrite():
    """The _FUSE rule turns ST_NPoints(ST_Segmentize(g, m)) into the
    fused counter — and leaves non-matching consumers alone, including
    ST_NumPoints, which counts only a LINESTRING (the counter would give
    17 for the segmentized 4x4 rect, where call by call gives NULL)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import chainrw as C

    assert C.rewrite("ST_NPoints(ST_Segmentize(g, 1D))") == \
        "ST_SegmentizeNPoints(g, 1D)"
    assert C.rewrite("ST_NumPoints(ST_Segmentize(g, 2.5))") == \
        "ST_NumPoints(ST_Segmentize(g, 2.5))"
    # inner args that are themselves expressions survive verbatim
    assert C.rewrite("ST_NPoints(ST_Segmentize(wkt, d + 1))") == \
        "ST_SegmentizeNPoints(wkt, d + 1)"
    # non-fusable consumers keep the plain spelling
    assert "ST_SegmentizeNPoints" not in C.rewrite(
        "ST_Length(ST_Segmentize(g, 1D))")


def test_fused_segmentize_npoints_parity(spark):
    """Fused == literal composition over mixed inputs: lane-eligible
    int rects, float rects, an L-shape (scalar fallback), a linestring,
    NULL geometry, and a non-positive max_len (both sides NULL)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions.spatial import (
        register_spatial_functions)

    register_spatial_functions(spark)
    rows = [
        ("POLYGON ((0 0, 9 0, 9 4, 0 4, 0 0))", 1.0),
        ("POLYGON ((0 0, 9 0, 9 4, 0 4, 0 0))", 2.5),
        ("POLYGON ((0.5 0.5, 7.25 0.5, 7.25 3.5, 0.5 3.5, 0.5 0.5))",
         1.0),
        ("POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))", 1.0),
        ("LINESTRING (0 0, 10 0)", 3.0),
        (None, 1.0),
        ("POLYGON ((0 0, 9 0, 9 4, 0 4, 0 0))", 0.0),
    ]
    df = spark.createDataFrame(rows, "g string, m double")
    both = df.selectExpr(
        "ST_SegmentizeNPoints(g, m) AS fused",
        "ST_NPoints(ST_Segmentize(g, m)) AS composed").collect()
    for r in both:
        assert r.fused == r.composed, r
    # spot-check the closed form on the unit-step rect: 2(w+h)+1
    assert both[0].fused == 2 * (9 + 4) + 1


# ------------------------------------------- packed batches in the body

def _fused_body(*exprs):
    """(fused body function, its leaf texts) for a projection."""
    fz = CR._Fusion()
    for e in exprs:
        fz.emit(CR._Expr(CR._parse(CR.rewrite(e))[0]))
    return fz.udf().func, list(fz.leaves)


def _count_codec(monkeypatch) -> dict:
    """Counts the carrier's text decodes and WKT encodes, the per-row
    scalar parses, and the WKB writes."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import geomb as GB

    calls = {}
    for mod, name in ((GB, "decode"), (GB, "encode"), (GT, "parse_wkt"),
                      (GT, "to_wkb")):
        real = getattr(mod, name)
        calls[name] = 0

        def counted(*a, _real=real, _name=name):
            calls[_name] += 1
            return _real(*a)

        monkeypatch.setattr(mod, name, counted)
    return calls


def test_centroid_text_full_precision_lone_and_carrier():
    """A lone ST_Centroid (text UDF, rect lane or scalar) and the same
    centroid through a carrier chain print the same shortest-repr text:
    the doubles are equal bit for bit, and neither side cuts them to 10
    significant digits."""
    import pandas as pd

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S

    g = pd.Series([
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0),"
        " (2 2, 2 4, 4 4, 4 2, 2 2))",
        "POLYGON ((0.1 0.2, 3.7 0.3, 1.9 2.9, 0.1 0.2))",
        "POLYGON ((0.1 0.2, 3.7 0.2, 3.7 2.9, 0.1 2.9, 0.1 0.2))",
    ], dtype=object)
    lone = S.udf_table()["ST_Centroid"].func(g).tolist()
    body, leaves = _fused_body(
        "ST_AsText(ST_Centroid(ST_GeomFromWKT(g))) AS c")
    assert leaves == ["g"]
    carrier = body(g)["f0"].tolist()
    assert lone[0] == "POINT (5.083333333333333 5.083333333333333)"
    assert lone == carrier


@pytest.mark.parametrize("name", ["st_buffer_round", "st_transform_utm"])
def test_fused_body_decodes_each_leaf_once(spark, monkeypatch, name):
    """One batch through the registry query's fused body: one decode per
    distinct geometry leaf, no scalar parse and no WKB written (the
    fixture rects are canonical), and no geometry formatted (none
    surfaces in either projection)."""
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES

    seen: dict = {}
    real_select, real_udf = CR.select_st, CR._Fusion.udf

    def select_st(df, *exprs):
        seen["df"] = df
        return real_select(df, *exprs)

    def udf(self):
        seen["fz"] = self
        return real_udf(self)

    monkeypatch.setattr(CR, "select_st", select_st)
    monkeypatch.setattr(CR._Fusion, "udf", udf)
    QUERIES[name](spark, SF_SMOKE)
    fz = seen["fz"]
    pdf = seen["df"].selectExpr(*fz.leaves).limit(2000).toPandas()
    cols = [pdf.iloc[:, k] for k in range(len(fz.leaves))]
    body = real_udf(fz).func
    calls = _count_codec(monkeypatch)
    out = body(*cols)
    assert len(out) == len(pdf) > 0
    assert calls == {"decode": 1, "encode": 0, "parse_wkt": 0,
                     "to_wkb": 0}, calls


def test_fused_body_encodes_where_a_geometry_surfaces(monkeypatch):
    """A geometry that surfaces is formatted as WKT once, however many
    outputs read it, and no WKB is written."""
    import pandas as pd

    t = "ST_Transform(ST_GeomFromWKT(w), 'EPSG:3857', 'EPSG:5880')"
    body, leaves = _fused_body(f"ST_Area({t}) AS a", f"{t} AS t",
                               f"ST_AsText({t}) AS txt")
    assert leaves == ["w", "'EPSG:3857'", "'EPSG:5880'"]
    w = pd.Series(["POLYGON ((0 0, 40 0, 40 30, 0 30, 0 0))", None,
                   "POINT (5 7)"], dtype=object)
    cols = [w] + [pd.Series([v] * 3) for v in ("EPSG:3857", "EPSG:5880")]
    exp = [None if v is None else GT.to_wkt(GT.map_coords(
        GT.parse_wkt(v), lambda x, y: T.transform_point(
            x, y, "EPSG:3857", "EPSG:5880"))) for v in w]
    calls = _count_codec(monkeypatch)
    out = body(*cols)
    assert calls == {"decode": 1, "encode": 1, "parse_wkt": 0,
                     "to_wkb": 0}, calls
    assert out["f1"].tolist() == exp
    assert out["f2"].tolist() == exp


def test_carrier_buffer_null_arguments_are_null():
    """A NULL radius or NULL quadsegs gives NULL on the carrier, as on
    the text ST_BufferRound."""
    import pandas as pd

    from geospatial_data_pipeline_spark_sedona_on_aws_spark.functions import spatial as S

    g = pd.Series(["POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"] * 3, dtype=object)
    d = pd.Series([1.0, None, 1.0])
    q = pd.Series([8.0, 8.0, None])
    body, leaves = _fused_body(
        "ST_Area(ST_BufferRound(ST_GeomFromWKT(g), d, q)) AS a")
    assert leaves == ["g", "d", "q"]
    got = body(g, d, q)["f0"].tolist()
    buf = S.udf_table()["ST_BufferRound"].func
    exp = S.udf_table()["ST_Area"].func(buf(g, d, q)).tolist()
    assert got[0] == exp[0] and all(v != v for v in got[1:] + exp[1:])
