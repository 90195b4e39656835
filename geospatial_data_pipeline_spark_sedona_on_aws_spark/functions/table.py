"""One row per SQL name: every ST_ function the engine registers.

A row holds the SQL names (aliases included; the first, lower-cased, is
the UDF's `__name__`), the result type, the per-row scalar kernel, an
optional lane and an optional packed body (functions/geomb) with its
geometry-argument positions. `_udf` builds each row's one registered
UDF, shared by its aliases:

- a body and no lane: geomb's one-node adapter (decode the geometry
  arguments, run the body, encode a geometry result as WKT);
- a lane: `lane(*columns, kernel)`, cast to the dtype the result type
  fixes (float64, Int64, or object for booleans). A lane claims the rows
  it can answer in whole-batch form and runs the kernel on the rest;
- neither: the kernel row by row (`each`). A NULL in any argument gives
  NULL without calling it.

Logic a row cannot express stays a hand-written UDF that the row names
(`udf`): the grouped aggregates and the struct results.

Everything else is read from ROWS: `udf_table()` (what
spatial.register_spatial_functions registers and chainrw's projection
fuser resolves), `CARRIER` (the fuser's packed bodies)
and the adapter set (`Row.adapted`). Adding or moving an ST_ name is one
row; moving a name to its packed body is deleting its lane cell. A SQL
name may appear once, case-insensitively (Spark's registry folds case).
"""

from __future__ import annotations

import functools
import math
from functools import partial
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    LongType,
    StringType,
)

from ..kernel import packed as PK
from . import geomb as GB
from . import grid
from . import lanes as LN
from . import lanes_ops as LO
from . import spatial as S
from . import spatial_ext as SE

WKT = StringType()
F64 = DoubleType()
I64 = LongType()
BOOL = BooleanType()
WKTS = ArrayType(StringType())


class Row(NamedTuple):
    """One registered function and every SQL name it answers to."""
    names: tuple
    rtype: DataType
    kernel: Callable | None = None
    lane: Callable | None = None
    body: Callable | None = None
    geom: tuple = (0,)
    udf: Callable | None = None

    @property
    def adapted(self) -> bool:
        """Its lone call is the packed body behind geomb's adapter."""
        return self.body is not None and self.lane is None


def row(names: str, rtype, kernel=None, lane=None, body=None,
        geom=(0,)) -> Row:
    """A row; `names` is the space-separated SQL names."""
    return Row(tuple(names.split()), rtype, kernel, lane, body, geom)


def hand(names: str, udf) -> Row:
    """A row for a hand-written UDF."""
    return Row(tuple(names.split()), udf.returnType, udf=udf)


def each(*cols):
    """The row-by-row lane: the kernel (the last argument) on every row
    with no NULL argument; NULL elsewhere."""
    *cols, kernel = cols
    na = np.logical_or.reduce([c.isna().to_numpy() for c in cols])
    return pd.Series([None if m else kernel(*v) for m, *v in zip(na, *cols)],
                     index=cols[0].index, dtype=object)


def _pred(names, law, kernel, bounds=PK.rect_bounds_np, lane=True) -> Row:
    """A DE-9IM predicate: its packed body decides pairs whose bounds
    are the geometry by the interval law; the text lane does the same
    for canonical integer rects."""
    return row(names, BOOL, kernel,
               partial(S._rect_pair_predicate, law=law) if lane else None,
               GB._pred(law, kernel, bounds), (0, 1))


def _typed(names, kind) -> Row:
    """A typed FromText constructor: NULL on a type mismatch."""
    return row(names, WKT, lambda w: SE._typed_from_text(w, kind),
               lambda s, k: LN.typed_from_text(s, kind, k))


def _bound(names, which) -> Row:
    return row(names, F64, lambda g: S._bound_of(g, which),
               lambda s, k: LO.bound_of(s, which, k))


# box_bounds_np also takes degenerate boxes (points): intersects,
# disjoint, equals, contains (covers) and within are closed-interval
# statements at any operand dimension. touches, overlaps and crosses stay
# rect-only: their truth depends on operand dimension in ways bounds
# cannot express (point-touches-point is false, …).
_BOX = PK.box_bounds_np

ROWS = (
    # ---------------------------------------------- text edge, hygiene
    row("ST_GeomFromWKT ST_GeomFromText", WKT, S._geom_from_wkt,
        S._identity_hygiene, GB._normalize),
    # geometry is already carried as canonical WKT
    row("ST_AsText", WKT, None, lambda s, _: s, GB._same),
    # non-areal MakeValid only canonicalizes the text: the identity
    # contract of ST_GeomFromWKT, so its extended fixed-point mask holds
    row("ST_MakeValid", WKT, S._make_valid, S._identity_hygiene),
    # a canonical rect already starts at its lex-min vertex, so it is a
    # fixed point of the full normalize too
    row("ST_Normalize", WKT, S._normalize_full, S._unary_hygiene),
    row("ST_Buffer", WKT, S._buffer, S._buffer_hygiene),
    row("ST_AsBinary", BinaryType(), S._as_binary),
    row("ST_GeomFromWKB", WKT, S._geom_from_wkb),
    row("ST_AsEWKT", WKT, S._as_ewkt),
    row("ST_GeomFromEWKT", WKT, S._geom_from_ewkt),
    row("ST_AsGeoJSON", WKT, S._as_geojson),
    row("ST_GeomFromGeoJSON", WKT, S._geom_from_geojson),
    row("ST_GeoHash", WKT, S._geohash, S._geohash_lane),
    row("ST_GeomFromGeoHash", WKT, S._geom_from_geohash),
    row("ST_PointFromGeoHash", WKT, S._point_from_geohash),
    row("ST_AsKML", WKT, SE._as_kml),
    row("ST_AsGML", WKT, SE._as_gml),
    row("ST_GeomFromGML ST_GeomFromKML", WKT, SE._geom_from_xml),
    row("ST_AsHEXEWKB", WKT, SE._as_hexewkb, LN.as_hexewkb),
    row("ST_SRID", I64, SE._srid),
    row("ST_SetSRID", WKT, SE._set_srid),
    # ------------------------------------------------------ packed only
    row("ST_Area", F64, S._area, body=GB._area),
    row("ST_NPoints", I64, S._npoints, body=GB._npoints),
    row("ST_NumPoints", I64, S._num_points, body=GB._num_points),
    row("ST_Length", F64, S._length, body=GB._length),
    row("ST_Centroid", WKT, S._centroid, body=GB._centroid),
    row("ST_Coords", ArrayType(F64), body=GB._coords),
    row("ST_Transform", WKT, body=GB._transform),
    row("ST_Envelope", WKT, body=GB._envelope),
    row("ST_BufferRound", WKT, S._buffer_round, body=GB._buffer_round),
    row("ST_Rotate", WKT, S._rotate, body=GB._rotate),
    row("ST_Scale", WKT, S._scale, body=GB._scale),
    row("ST_Translate", WKT, S._translate, body=GB._translate),
    row("ST_Affine", WKT, S._affine, body=GB._affine),
    row("ST_SnapToGrid", WKT, S._snap_to_grid, body=GB._snap_to_grid),
    row("ST_ReducePrecision", WKT, S._reduce_precision,
        body=GB._reduce_precision),
    row("ST_Expand", WKT, S._expand, body=GB._expand),
    # ------------------------------------------------------- predicates
    _pred("ST_Intersects", S._law_intersects, S._intersects, _BOX),
    _pred("ST_Disjoint", S._law_disjoint, S._disjoint, _BOX),
    _pred("ST_Touches", S._law_touches, S._touches),
    _pred("ST_Overlaps", S._law_overlaps, S._overlaps),
    _pred("ST_Equals", S._law_equals, S._equals, _BOX),
    _pred("ST_Crosses", S._law_crosses, S._crosses),
    _pred("ST_Contains", S._law_contains, S._contains, _BOX, lane=False),
    _pred("ST_Within", S._law_within, lambda a, b: S._contains(b, a), _BOX,
          lane=False),
    # the engine's containment test IS covers (boundary counts): the
    # honest SQL/MM name beside ST_Contains
    row("ST_Covers", BOOL, S._contains),
    row("ST_CoveredBy", BOOL, lambda a, b: S._contains(b, a)),
    row("ST_DWithin", BOOL, S._dwithin),
    row("ST_Relate", WKT, S._relate),
    row("ST_OrderingEquals", BOOL, SE._ordering_equals),
    # -------------------------------------------------------- measures
    # the box path of ST_Distance's body is not bit-equal to its kernel
    # (COVERAGE.md), so its lone call runs the kernel row by row
    row("ST_Distance", F64, S._distance, each, GB._distance, (0, 1)),
    row("ST_ClippedArea", F64, S._clipped_area),
    row("ST_Perimeter", F64, S._perimeter, LO.perimeter),
    row("ST_Angle", F64, S._angle3, LO.angle3),
    row("ST_Azimuth", F64, S._azimuth),
    row("ST_MaxDistance", F64, S._max_distance, LO.max_distance),
    row("ST_HausdorffDistance", F64, S._hausdorff_distance, LO.hausdorff),
    row("ST_FrechetDistance", F64, S._frechet_distance, LO.frechet),
    row("ST_3DDistance", F64, SE._distance3d, LN.distance_3d),
    row("ST_DistanceSphere", F64, S._distance_sphere),
    row("ST_DistanceSpheroid", F64, S._distance_spheroid),
    row("ST_AreaSpheroid", F64, S._area_spheroid),
    row("ST_LengthSpheroid", F64, S._length_spheroid),
    # the radius alone, not Sedona's struct(center, radius): the center is
    # ST_Centroid(ST_MinimumBoundingCircle(g))
    row("ST_MinimumBoundingRadius", F64,
        lambda g: (S._min_bounding_radius(g) or (None, None))[1],
        LO.min_bounding_radius_val),
    row("ST_MinimumClearance", F64, SE._minimum_clearance,
        LN.minimum_clearance),
    row("ST_LineLocatePoint", F64, S._line_locate_point),
    row("ST_MemSize", I64, SE._mem_size),
    row("ST_Degrees", F64, math.degrees),
    # -------------------------------------------------------- accessors
    row("ST_X", F64, lambda w: S._st_xy(w, 0), LN.st_x,
        partial(GB._xy, axis=0)),
    row("ST_Y", F64, lambda w: S._st_xy(w, 1), LN.st_y,
        partial(GB._xy, axis=1)),
    row("ST_Z", F64, lambda w: S._st_xy(w, 2),
        lambda s, k: LN._xy_accessor(s, 2, k)),
    _bound("ST_XMin", "xmin"),
    _bound("ST_XMax", "xmax"),
    _bound("ST_YMin", "ymin"),
    _bound("ST_YMax", "ymax"),
    row("ST_ZMin", F64, lambda w: S._z_minmax(w, False)),
    row("ST_ZMax", F64, lambda w: S._z_minmax(w, True)),
    row("ST_MMin", F64, S._mm_minmax),
    row("ST_MMax", F64, S._mm_minmax),
    row("ST_NDims ST_CoordDim", I64, S._ndims),
    row("ST_HasZ", BOOL, lambda w: S._ndims(w) == 3, LO.hasz),
    row("ST_Zmflag", I64, SE._zmflag, LN.zmflag),
    row("ST_GeometryType", WKT, S._geometry_type, LO.geometry_type),
    row("ST_Dimension", I64, S._dimension_of),
    row("ST_IsEmpty", BOOL, S._is_empty),
    row("ST_IsValid", BOOL, S._is_valid),
    row("ST_IsValidReason", WKT, SE._is_valid_reason, LN.is_valid_reason),
    row("ST_IsClosed", BOOL, S._is_closed, LO.is_closed),
    row("ST_IsSimple", BOOL, S._is_simple, LO.is_simple),
    row("ST_IsRing", BOOL, S._is_ring, LO.is_ring),
    row("ST_IsCollection", BOOL, SE._is_collection, LN.is_collection),
    row("ST_IsPolygonCW", BOOL,
        lambda w: SE._is_polygon_oriented(w, exterior_ccw=False),
        LN.is_polygon_cw),
    row("ST_IsPolygonCCW", BOOL,
        lambda w: SE._is_polygon_oriented(w, exterior_ccw=True),
        LN.is_polygon_ccw),
    row("ST_CrossesDateLine", BOOL, S._crosses_dateline),
    row("ST_NumGeometries", I64, S._num_geometries, LO.num_geometries),
    row("ST_NumInteriorRings ST_NumInteriorRing", I64,
        S._num_interior_rings, LN.num_interior_rings),
    row("ST_NRings", I64, S._nrings),
    row("ST_BestSRID", I64, S._best_srid),
    row("ST_GeometryN", WKT, S._geometry_n, LO.geometry_n),
    row("ST_PointN", WKT, lambda g, i: S._point_n(g, int(i))),
    row("ST_StartPoint", WKT, lambda g: S._terminal_point(g, False),
        lambda s, k: LO.terminal_point(s, False, k)),
    row("ST_EndPoint", WKT, lambda g: S._terminal_point(g, True),
        lambda s, k: LO.terminal_point(s, True, k)),
    row("ST_ExteriorRing", WKT, S._exterior_ring),
    row("ST_InteriorRingN", WKT,
        lambda g, i: S._interior_ring_n(g, int(i))),
    row("ST_Boundary", WKT, S._boundary),
    row("ST_Dump", WKTS, S._dump),
    row("ST_DumpPoints", WKTS, S._dump_points),
    row("ST_Points", WKT, SE._points),
    # --------------------------------------------------- constructions
    row("ST_Point ST_MakePoint", WKT, S._point),
    row("ST_PointZ", WKT, S._point_z),
    row("ST_MakeLine", WKT, S._make_line),
    row("ST_MakeEnvelope", WKT, S._make_envelope),
    row("ST_PolygonFromEnvelope", WKT, SE._polygon_from_envelope,
        LN.polygon_from_envelope),
    row("ST_PointFromText", WKT, SE._point_from_text, LN.point_from_text),
    row("ST_LineStringFromText", WKT, SE._linestring_from_text,
        LN.linestring_from_text),
    _typed("ST_LineFromText", "LINESTRING"),
    _typed("ST_MLineFromText", "MULTILINESTRING"),
    _typed("ST_MPolyFromText", "MULTIPOLYGON"),
    _typed("ST_MPointFromText", "MULTIPOINT"),
    _typed("ST_GeomCollFromText", "GEOMETRYCOLLECTION"),
    row("ST_LineFromMultiPoint", WKT, SE._line_from_multipoint,
        LN.line_from_multipoint),
    row("ST_Polygon", WKT, lambda w: S._lineal_to_polygon(w, "ST_Polygon")),
    row("ST_MakePolygon", WKT, S._make_polygon, LO.make_polygon),
    row("ST_Collect", WKT, SE._collect_array),
    row("ST_Multi", WKT, S._multi, LO.multi),
    row("ST_ForceCollection", WKT, SE._force_collection,
        LN.force_collection),
    row("ST_Force2D", WKT, S._force_2d),
    row("ST_Force3D ST_Force3DZ", WKT, S._force_3d, LN.force_3dz),
    row("ST_ForcePolygonCW ST_ForceRHR", WKT,
        lambda w: SE._force_orientation(w, exterior_ccw=False),
        LN.force_polygon_cw),
    row("ST_ForcePolygonCCW", WKT,
        lambda w: SE._force_orientation(w, exterior_ccw=True),
        LN.force_polygon_ccw),
    row("ST_FlipCoordinates", WKT, S._flip_coordinates),
    row("ST_Reverse", WKT, S._reverse),
    row("ST_ShiftLongitude", WKT, S._shift_longitude),
    row("ST_RotateX", WKT, SE._rotate_x, LN.rotate_x),
    row("ST_RotateY", WKT, SE._rotate_y, LN.rotate_y),
    row("ST_Project", WKT, S._project_point, LO.project),
    row("ST_TileEnvelope", WKT, grid._tile_envelope),
    row("ST_Square", WKT, grid._square),
    row("ST_Hexagon", WKT, grid._hexagon),
    # -------------------------------------------------------- overlays
    row("ST_Intersection", WKT, S._intersection),
    row("ST_Union", WKT, S._union2),
    row("ST_Difference", WKT, S._difference),
    row("ST_SymDifference", WKT, S._sym_difference),
    row("ST_UnaryUnion", WKT, S._unary_union),
    row("ST_Split", WKT, S._split, LO.split),
    row("ST_Node", WKT, SE._node),
    row("ST_Polygonize", WKT, SE._polygonize),
    row("ST_BuildArea", WKT, SE._build_area),
    # ---------------------------------------------------- shape, editors
    row("ST_ConvexHull", WKT, S._convex_hull),
    row("ST_ConcaveHull", WKT, lambda g, v: S._concave_hull(g, float(v))),
    row("ST_Simplify ST_SimplifyPreserveTopology", WKT, S._simplify_wkt,
        LO.simplify),
    row("ST_SimplifyVW", WKT, SE._simplify_vw, LN.simplify_vw),
    row("ST_ShortestLine", WKT, S._shortest_line, LO.shortest_line),
    row("ST_LongestLine", WKT, S._longest_line, LO.longest_line),
    row("ST_ClosestPoint", WKT, S._closest_point),
    row("ST_BoundingDiagonal", WKT, S._bounding_diagonal,
        LO.bounding_diagonal),
    row("ST_PointOnSurface", WKT, S._point_on_surface, LO.point_on_surface),
    row("ST_GeometricMedian", WKT, S._geometric_median, LO.geometric_median),
    row("ST_MinimumBoundingCircle", WKT, S._min_bounding_circle),
    row("ST_MinimumClearanceLine", WKT, SE._minimum_clearance_line,
        LN.minimum_clearance_line),
    row("ST_LineInterpolatePoint", WKT,
        lambda g, f: S._line_interpolate_point(g, float(f))),
    row("ST_LineSubstring", WKT, S._line_substring, LO.line_substring),
    row("ST_LineMerge", WKT, S._line_merge, LO.line_merge),
    row("ST_Segmentize", WKT, S._segmentize, LO.segmentize),
    # ST_NPoints(ST_Segmentize(g, m)), emitted by chainrw's rewrite so the
    # densified ring never materializes as text
    row("ST_SegmentizeNPoints", I64, S._segmentize_npoints,
        LO.segmentize_npoints),
    row("ST_CollectionExtract", WKT, S._collection_extract,
        LO.collection_extract),
    row("ST_Subdivide", WKT, lambda g, v: S._subdivide(g, int(v))),
    row("ST_SubDivideExplode", WKTS,
        lambda g, v: S._subdivide_explode(g, int(v))),
    row("ST_DelaunayTriangles", WKT, S._delaunay_triangles),
    row("ST_VoronoiPolygons", WKT, S._voronoi_polygons),
    row("ST_TriangulatePolygon", WKT, S._triangulate_polygon),
    # a NULL seed means seed 0
    row("ST_GeneratePoints", WKT,
        lambda g, n, seed: S._generate_points(g, int(n), int(seed)),
        lambda s, n, seed, k: each(s, n, seed.fillna(0), k)),
    row("ST_AddPoint", WKT, S._add_point, LO.add_point),
    row("ST_RemovePoint", WKT, S._remove_point, LO.remove_point),
    row("ST_SetPoint", WKT, S._set_point, LO.set_point),
    row("ST_RemoveRepeatedPoints", WKT, S._remove_repeated_points,
        LO.remove_repeated_points),
    row("ST_Snap", WKT, S._snap, LO.snap),
    # ---------------------------------------- hand-written: no row form
    hand("ST_SimplifyLine", S.st_simplifyline),
    hand("ST_MaximumInscribedCircle", SE.st_maximuminscribedcircle),
    hand("ST_Collect_Aggr", S.st_collect_aggr),
    hand("ST_Envelope_Aggr", S.st_envelope_aggr),
    hand("ST_Union_Aggr", S.st_union_aggr),
    hand("ST_Intersection_Aggr", S.st_intersection_aggr),
)

_CAST = {DoubleType: "float64", LongType: "Int64", BooleanType: "object"}


def _udf(r: Row):
    """The one registered UDF of row r."""
    if r.udf is not None:
        return r.udf
    name = r.names[0]
    if r.adapted:
        return GB._adapt(name, r.body, r.geom, r.rtype)
    lane = r.lane or each
    kernel, cast = r.kernel, _CAST.get(type(r.rtype))

    def fn(*cols: pd.Series) -> pd.Series:
        out = lane(*cols, kernel)
        return out if cast is None else out.astype(cast)

    fn.__name__ = fn.__qualname__ = name.lower()
    return pandas_udf(fn, r.rtype)


def build(rows) -> dict:
    """SQL name -> UDF for every name of `rows`; a name that appears
    twice, in any case, is an error."""
    seen: dict = {}
    for r in rows:
        for name in r.names:
            if name.lower() in seen:
                raise ValueError(f"SQL name {name} appears twice (as "
                                 f"{seen[name.lower()]} too)")
            seen[name.lower()] = name
    return {name: fn for r in rows for fn in (_udf(r),) for name in r.names}


@functools.cache
def udf_table() -> dict:
    return build(ROWS)


#: lower-cased SQL name -> geomb.Carrier, for every row with a body: the
#: packed bodies chainrw's projection fuser runs
CARRIER = {name.lower(): GB.Carrier(r.body, r.geom, r.rtype == WKT)
           for r in ROWS if r.body is not None for name in r.names}
