"""Dissolve (grouped geometric union) + the fused dissolve-clip-area operator.

Reproduces the reference's aggregation core — groupBy 4 keys (one of them a
geometry) + ST_Union_Aggr, then clip to the region polygon and take the area
(reference spark_job/process_geodata.py:110-113 and :120-139) — as Spark
dataflow over the pure-Python/numpy kernel.

Scale design (SURVEY.md §4.3): a grouped-map UDAF has no partial aggregation,
so one huge group (a region with millions of parcels) would land in one task.
Union is associative and commutative, so dissolve_clip_area runs the classic
combiner decomposition instead:

    stage 1  JVM-side WKT parse + clip  (whole-stage codegen, no Python)
    stage 2  map-side combine           (mapInPandas: per-partition, per-key
             disjoint-rect decomposition — mergeable partial state, NO shuffle)
    stage 3  groupBy(keys)              (the ONLY shuffle: compact numeric
             partials, never raw rows) -> vectorized exact union area

union_aggr (the geometry-valued variant) keeps the same two-level shape,
with the input partitioning as the natural salt. dissolve_transform_area
has no combine; its docstring gives the scale argument.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import boolean as B
from ..kernel import geom as G
from ..kernel import rectnp as R

def wkt_nums_sql(col: str) -> str:
    """SQL text of the WKT-numbers parse (array<double> of every number in
    the string): trim the non-numeric prefix/suffix, split, cast. The
    expression is assembled as ONE SQL string parsed JVM-side: building the
    same tree through Column operators costs dozens of py4j round trips per
    call site, which showed up as ~0.4s of driver-side PLAN-BUILD time per
    query (execution is identical — both forms reach the same codegen).
    No higher-order functions: HOF lambdas (filter/transform) evaluate
    *interpreted*, which dominated the join/dissolve stages at ~µs/element."""
    return ("cast(split(regexp_replace(" + col +
            ", '^[^-0-9.]+|[^-0-9.eE+]+$', ''), '[^-0-9.eE+]+') as array<double>)")

def is_rect_sql(arr: str) -> str:
    """SQL text of the canonical-rectangle test over a numbers-array
    expression (x1 y1, x2 y1, x2 y2, x1 y2, x1 y1 closed ring).
    try_element_at, NOT element_at: conjunction does not short-circuit in
    codegen, so a shorter array (a triangle's 8 numbers) must yield
    NULL -> false, not throw."""
    def e(i: int) -> str:
        return f"try_element_at({arr}, {i})"
    return (f"(size({arr}) = 10 AND {e(1)} = {e(7)} AND {e(2)} = {e(4)}"
            f" AND {e(3)} = {e(5)} AND {e(6)} = {e(8)} AND {e(9)} = {e(1)}"
            f" AND {e(10)} = {e(2)} AND {e(3)} > {e(1)} AND {e(6)} > {e(2)})")

def rect_bounds(col: str) -> list:
    """(x1, y1, x2, y2) Columns of a canonical-rectangle WKT column (a name
    or SQL fragment), NULL when the WKT is not a canonical rectangle. Meant
    for pre-parsing a *dimension side* once before a join (see
    dissolve_clip_area's clip_bounds) instead of per joined fact row."""
    arr = wkt_nums_sql(col)
    ok = is_rect_sql(arr)
    return [F.expr(f"CASE WHEN {ok} THEN try_element_at({arr}, {i}) END")
            for i in (1, 2, 3, 6)]

def _poly_rects(wkt: str) -> list[tuple[float, float, float, float]]:
    """Parse a WKT geometry with axis-aligned edges (rectangles, L/T/U
    shapes, holes, multipolygons) into disjoint bounds tuples; raises
    GeomError on non-rectilinear input (general boolean union is the
    phase-2 kernel core)."""
    return G.rectilinear_decompose(G.parse_wkt(wkt))

def _adaptive_partial(rect_arr: np.ndarray) -> np.ndarray:
    """Decompose-only-when-saturated map-side partial — the shared
    adaptive-combine heuristic (same contract as Spark's hash-aggregate
    fallback-to-passthrough): a disjoint decomposition only REDUCES a
    partial when the group's rects saturate their footprint; sparse groups
    decompose to >= n slivers, paying CPU to EXPAND the shuffle. Decompose
    only when the total rect area overshoots 2x the bbox area, and keep
    the raw rects when the result didn't shrink — raw overlapping rects
    are equally valid partials (every consumer either re-decomposes the
    merged set or runs an overlap-exact union). Shared by union_aggr and
    dissolve_clip_area so the tuning constants cannot drift apart."""
    n = len(rect_arr)
    if n >= 8:
        areas = ((rect_arr[:, 2] - rect_arr[:, 0])
                 * (rect_arr[:, 3] - rect_arr[:, 1]))
        bbox = ((rect_arr[:, 2].max() - rect_arr[:, 0].min())
                * (rect_arr[:, 3].max() - rect_arr[:, 1].min()))
        if bbox > 0 and areas.sum() > 2.0 * bbox:
            cand = R.union_decompose(rect_arr)
            if len(cand) < n:
                return cand
    return rect_arr


def _concat_batches(batches) -> pd.DataFrame | None:
    """One frame from a pandas stage's non-empty batches (None when there
    are none), concatenated column by column with numpy. pd.concat checks
    every value of an object column for NA one at a time, and the dissolve
    stages ship mostly-None object columns (`__wkt`, `__gen`, `__gw`,
    `__gwkt`): that check was 0.5 s of a 180 k-row finish."""
    frames = [p for p in batches if len(p)]
    if len(frames) <= 1:
        return frames[0] if frames else None
    return pd.DataFrame(
        {c: np.concatenate([f[c].to_numpy() for f in frames])
         for c in frames[0].columns}, copy=False)


def _group_slices(whole: pd.DataFrame, keys: Sequence[str]):
    """(order, starts, ends) contiguous group slices of `whole` by `keys`
    with Spark groupBy NULL semantics: rows are grouped by per-column
    factorize CODES (NaN/None → one shared sentinel code), so NULL keys
    form ONE group instead of lexsort-NaN splitting every row into its
    own group — and object-typed key columns (strings) sort by code, not
    by value comparison. One array pass; shared by both fused dissolve
    operators' combine and finish stages."""
    codes = np.column_stack([
        pd.factorize(whole[k], use_na_sentinel=True)[0] for k in keys
    ])
    order = np.lexsort(tuple(codes[:, i]
                       for i in range(codes.shape[1] - 1, -1, -1)))
    codes = codes[order]
    change = np.empty(len(codes), dtype=bool)
    change[0] = True
    change[1:] = (codes[1:] != codes[:-1]).any(axis=1)
    starts = np.flatnonzero(change)
    return order, starts, np.append(starts[1:], len(codes))


def union_aggr(df: DataFrame, group_cols: Sequence[str], geom_col: str,
               out_col: str = "geometry") -> DataFrame:
    """ST_Union_Aggr: per-group geometric union, geometry-valued output
    (canonical WKT).

    Two-level combiner decomposition (union is associative+commutative):
    stage 1 unions each key's geometries *within each input partition* with
    NO shuffle — the partition id is the natural salt, so a skewed group's
    rows reduce map-side to one partial per partition. The only shuffle then
    moves one WKT partial per (key, partition) and stage 2 merges them.
    Both stages are mapInPandas over whole partitions (pandas groupby
    inside), not groupBy().applyInPandas — grouped-map ships one Arrow batch
    per GROUP (~ms fixed cost each), which dominates at thousands of groups.
    """
    keys = list(group_cols)
    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*keys).schema.fields
    )
    # Two transfer optimizations, both measured on the verbatim-parity
    # chain (600k parcels, sf0.1):
    # 1. Stage-1 INPUT: canonical-rect geometries cross the Arrow boundary
    #    as 4 pre-parsed DOUBLES (the JVM is_rect/rect_bounds codegen fast
    #    path this module already uses for the fused dissolve), with the
    #    WKT string shipped ONLY for non-rect rows — string columns were
    #    the bulk of the JVM→Python transfer cost.
    # 2. PARTIALS: the per-(key, partition) union travels as PACKED float64
    #    rect bounds (binary tobytes/frombuffer, zero parse on both sides),
    #    not multipolygon WKT, so stage 2 never re-parses geometry text.
    # Only truly general (non-rectilinear) geometry rides WKT, through the
    # same banded-sweep fallback as before.
    mid_schema = key_schema + ", `__rects` binary, `__gen` string"
    out_schema = key_schema + f", `{out_col}` string"

    def rect_geom(x1: float, y1: float, x2: float, y2: float) -> list:
        # exactly parse_wkt's result for canonical rect WKT (closing point
        # dropped), so the general-union fallback sees identical geometry
        return [[[(x1, y1), (x2, y1), (x2, y2), (x1, y2)]]]

    def group_rects(rect_arr: np.ndarray, wkts: list) -> tuple[bytes | None, str | None]:
        """Union one group's (pre-parsed rects, leftover WKT rows) into
        (packed rect-bounds partial, None) when everything is rectilinear,
        else (None, general-union WKT).

        ADAPTIVE (same contract as dissolve_clip_area's combine and Spark's
        hash-agg fallback-to-passthrough): the disjoint decomposition only
        REDUCES a partial when the group's rects saturate their footprint —
        a sparse (partition, group) subset decomposes to >= n slivers,
        spending CPU to *expand* the shuffle. Decompose only when the total
        rect area overshoots 2x the bbox area, and keep the raw rects when
        it didn't shrink; raw rects are equally valid partials because
        stage 2 re-runs the canonical decomposition over the merged set
        (band decomposition depends on the covered REGION, not on which
        overlapping rects describe it)."""
        try:
            extra = [r for w in wkts for r in _poly_rects(w)]
        except G.GeomError:
            geoms = [rect_geom(*r) for r in rect_arr]
            geoms.extend(G.parse_wkt(w) for w in wkts)
            return None, G.to_wkt(B.union_geom(geoms))
        if extra:
            rect_arr = np.concatenate([
                rect_arr, np.array(extra, dtype=np.float64).reshape(-1, 4)])
        rect_arr = _adaptive_partial(rect_arr)
        return np.ascontiguousarray(rect_arr, dtype=np.float64).tobytes(), None

    def stage1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        whole = _concat_batches(batches)
        if whole is None:
            return
        ok = whole["__x1"].notna().to_numpy()
        rects_all = whole[["__x1", "__y1", "__x2", "__y2"]].to_numpy(
            dtype=np.float64, na_value=np.nan)
        rows_k, rows_r, rows_g = [], [], []
        for kv, grp in whole.groupby(keys, sort=False, dropna=False):
            rows_k.append(kv if isinstance(kv, tuple) else (kv,))
            idx = grp.index.to_numpy()
            blob, gen = group_rects(
                rects_all[idx[ok[idx]]],
                [w for w in grp["__wkt"] if w is not None],
            )
            rows_r.append(blob)
            rows_g.append(gen)
        out = pd.DataFrame(rows_k, columns=keys)
        out["__rects"] = rows_r
        out["__gen"] = rows_g
        yield out

    def stage2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        whole = _concat_batches(batches)
        if whole is None:
            return
        rows_k, rows_u = [], []
        for kv, grp in whole.groupby(keys, sort=False, dropna=False):
            rows_k.append(kv if isinstance(kv, tuple) else (kv,))
            blobs = [x for x in grp["__rects"] if x is not None]
            gens = [x for x in grp["__gen"] if x is not None]
            rect_arr = (
                np.concatenate([
                    np.frombuffer(x, dtype=np.float64).reshape(-1, 4)
                    for x in blobs
                ]) if blobs else np.empty((0, 4))
            )
            if gens:
                # general merge: banded-sweep union over every partial.
                # rects_to_geom requires pairwise-DISJOINT members (its
                # multipolygon follows even-odd parity, so overlap XORs
                # out) — and since the r5 adaptive combine ships RAW
                # possibly-overlapping rects as partials, disjoint-ify
                # before packing, same as dissolve_clip_area's final
                geoms = [G.parse_wkt(w) for w in gens]
                if len(rect_arr):
                    geoms.append(G.rects_to_geom(
                        [tuple(r) for r in R.union_decompose(rect_arr)]))
                rows_u.append(G.to_wkt(B.union_geom(geoms)))
            else:
                merged = R.union_decompose(rect_arr)
                rows_u.append(
                    G.to_wkt(G.rects_to_geom([tuple(r) for r in merged])))
        out = pd.DataFrame(rows_k, columns=keys)
        out[out_col] = rows_u
        yield out

    arr = wkt_nums_sql(f"`{geom_col}`")
    okx = is_rect_sql(arr)
    pre = df.select(
        *keys,
        *[c.alias(n) for c, n in zip(
            rect_bounds(f"`{geom_col}`"), ("__x1", "__y1", "__x2", "__y2"))],
        F.expr(f"CASE WHEN NOT coalesce({okx}, false) THEN `{geom_col}` END")
            .alias("__wkt"),
    )
    partials = pre.mapInPandas(stage1, schema=mid_schema)
    return partials.repartition(*keys).mapInPandas(stage2, schema=out_schema)

def _clip_one(geom_wkt: str | None, clip_wkt: str | None
              ) -> tuple[list[tuple[float, float, float, float]], str | None]:
    """Kernel clip of one geometry to one clip polygon (fallback off the JVM
    fast path). Returns (rect_pieces, general_wkt): rectilinear inputs clip
    to exact disjoint rects; anything else goes through the phase-2
    banded-sweep intersection and comes back as a geometry WKT partial."""
    if geom_wkt is None or clip_wkt is None:
        return [], None
    geom = G.parse_wkt(geom_wkt)
    clip_geom = G.parse_wkt(clip_wkt)
    try:
        # clip rects are disjoint (rectilinear_decompose), so rect ∩ clip_j
        # are disjoint across j and the downstream Klee union stays exact
        grects = G.rectilinear_decompose(geom)
        clip_rects = G.rectilinear_decompose(clip_geom)
    except G.GeomError:
        clipped = B.intersection_geom(geom, clip_geom)
        return [], (G.to_wkt(clipped) if clipped else None)
    pieces: list[tuple[float, float, float, float]] = []
    for rect in grects:
        for crect in clip_rects:
            c = G.rect_clip(*rect, *crect)
            if c is not None:
                pieces.append(c)
    return pieces, None

def dissolve_clip_area(df: DataFrame, group_cols: Sequence[str], geom_col: str,
                       clip_col: str, out_col: str = "area",
                       clip_bounds: Sequence[str] | None = None,
                       geom_bounds: Sequence[str] | None = None,
                       geom_expr: str | None = None,
                       _partials_only: bool = False) -> DataFrame:
    """Fused area(clip ∩ union(geoms)) per group — the engine's hot path for
    the reference's flagship computation (spark_job/process_geodata.py:110-139).

    Clip distributes over union, so each geometry is clipped to its group's
    clip polygon *before* the union; the clipped pieces then union exactly
    (Klee's measure). clip_col must be constant within a group (it is a
    grouping key in the reference, :110-112).

    Execution shape (the part that matters at 100 TB):
      1. WKT is parsed *in the JVM* (split + cast inside whole-stage codegen)
         for the canonical-rectangle fast path; the clip is pure
         greatest/least arithmetic, also JVM-side. Only 4 doubles per
         surviving row ever reach Python — never the WKT strings.
      2. Non-rectangular WKT takes a general-kernel mapInPandas fallback that
         emits the same (keys, bounds) rows.
      3. Map-side combine (mapInPandas, no shuffle): each input partition
         groups its rows locally and reduces them to a disjoint-rect
         decomposition per key — the mergeable partial state of the union.
      4. The ONLY shuffle moves those compact numeric partials on the group
         key; the final per-key task computes the exact union area with the
         vectorized kernel (grid method, memory-capped). A group with a
         billion member rows arrives as ≤ (#map partitions × its footprint
         complexity) partial rects, not a billion rows.

    clip_bounds / geom_bounds: optional names of 4 columns (x1, y1, x2, y2)
    holding the rectangle pre-parsed as numeric columns — the engine's
    bbox-covering-column pushdown (same idea as GeoParquet's `bbox` covering
    column: carry the cheap numeric representation next to the geometry and
    touch the text/WKB form only when the bbox can't answer). clip_bounds is
    typically pre-parsed once on the *dimension side before the join*;
    geom_bounds on the fact side skips WKT construction AND parsing entirely
    for canonical rectangles. A row whose bounds are NULL (or degenerate)
    routes to the WKT slow path, so mixed rect/general tables work.
    """
    keys = list(group_cols)
    key_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*keys).schema.fields
    )
    bounds_schema = (f"{key_schema}, `__x1` double, `__y1` double, "
                     f"`__x2` double, `__y2` double, `__gwkt` string")
    bcols = ["__x1", "__y1", "__x2", "__y2"]

    # ---- stage 1: JVM-side parse + clip (rect fast path) -------------------
    # One pass, one consumer: fast rows leave the JVM as 4 clipped doubles
    # (WKT nulled out); the rare non-rectangular rows keep their WKT (bounds
    # nulled) and are kernel-clipped inside the combine stage below. No
    # branch-and-union, so the upstream scan/join runs exactly once.
    def _side(wkt_col: str, bounds: Sequence[str] | None):
        """(ok, x1, y1, x2, y2) SQL fragments for one geometry side: from
        the numeric bbox columns when given (pure arithmetic, no strings),
        else from a codegen WKT parse. SQL text, not Columns: the whole
        stage-1 projection is parsed JVM-side in one call (plan-BUILD cost
        — see wkt_nums_sql)."""
        if bounds is not None:
            bx1, by1, bx2, by2 = [f"cast(`{c}` as double)" for c in bounds]
            ok = (f"({bx1} IS NOT NULL AND {by1} IS NOT NULL"
                  f" AND {bx2} > {bx1} AND {by2} > {by1})")
            return ok, bx1, by1, bx2, by2
        arr = wkt_nums_sql(f"`{wkt_col}`")
        e = lambda i: f"try_element_at({arr}, {i})"  # noqa: E731
        return (f"(`{wkt_col}` IS NOT NULL AND {is_rect_sql(arr)})",
                e(1), e(2), e(3), e(6))

    g_ok, gx1, gy1, gx2, gy2 = _side(geom_col, geom_bounds)
    c_ok, cx1, cy1, cx2, cy2 = _side(clip_col, clip_bounds)
    # geom_expr (r13 optimization round): the geometry TEXT as a SQL
    # expression over df's columns, evaluated ONLY under the slow-path
    # CASE. A caller that pre-builds the WKT with withColumn pays the
    # string construction for every row even when geom_bounds answer the
    # fast path — CollapseProject can't inline the alias into the CASE
    # because the surrounding projection references other non-cheap
    # aliases repeatedly. Passing the expression text lets codegen skip
    # the concat for fast rows entirely; requires geom_bounds (the fast
    # test can't read a column that doesn't exist).
    if geom_expr is not None:
        assert geom_bounds is not None, "geom_expr requires geom_bounds"
        geom_slot = (f"CASE WHEN NOT coalesce({g_ok} AND {c_ok}, false)"
                     f" THEN ({geom_expr}) END AS `{geom_col}`")
    else:
        geom_slot = f"`{geom_col}`"
    # coalesce: a NULL from three-valued logic (e.g. a cast failure) must
    # route to the slow path, not evaporate in the downstream ~fast filter
    parsed = df.selectExpr(
        *[f"`{k}`" for k in keys], geom_slot, f"`{clip_col}`",
        f"coalesce({g_ok} AND {c_ok}, false) AS __fast",
        f"{gx1} AS __gx1", f"{gy1} AS __gy1",
        f"{gx2} AS __gx2", f"{gy2} AS __gy2",
        f"{cx1} AS __cx1", f"{cy1} AS __cy1",
        f"{cx2} AS __cx2", f"{cy2} AS __cy2",
    )

    routed = (
        parsed.selectExpr(
            *[f"`{k}`" for k in keys],
            "CASE WHEN __fast THEN greatest(__gx1, __cx1) END AS __x1",
            "CASE WHEN __fast THEN greatest(__gy1, __cy1) END AS __y1",
            "CASE WHEN __fast THEN least(__gx2, __cx2) END AS __x2",
            "CASE WHEN __fast THEN least(__gy2, __cy2) END AS __y2",
            f"CASE WHEN NOT __fast THEN `{geom_col}` END AS __gw",
            f"CASE WHEN NOT __fast THEN `{clip_col}` END AS __cw",
            "__fast",
        )
        # drop empty fast-path clips JVM-side; keep every slow-path row
        .where("NOT __fast OR (__x2 > __x1 AND __y2 > __y1)")
    )

    # ---- stage 2: map-side combine (partial union per partition, NO shuffle)
    def combine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: list[pd.DataFrame] = []
        gacc: list[tuple] = []  # (keys..., clipped geometry) general partials
        for pdf in batches:
            slow = pdf.loc[~pdf["__fast"]]
            if len(slow):
                gw, cw = slow["__gw"].to_numpy(), slow["__cw"].to_numpy()
                kv_rows = list(slow[keys].itertuples(index=False, name=None))
                rows = []
                for i in range(len(slow)):
                    pieces, gwkt = _clip_one(gw[i], cw[i])
                    rows.extend(kv_rows[i] + piece for piece in pieces)
                    if gwkt is not None:
                        gacc.append(kv_rows[i] + (gwkt,))
                if rows:
                    acc.append(pd.DataFrame(rows, columns=keys + bcols))
                pdf = pdf.loc[pdf["__fast"]]
            if len(pdf):
                acc.append(pdf[keys + bcols])
        parts = []
        whole = _concat_batches(acc)
        if whole is not None:
            # numpy grouping (lexsort + boundary split): one array pass and
            # ONE output frame — pandas groupby would build a small DataFrame
            # per (key, partition) group, which dominates at thousands of
            # groups per partition
            order, starts, ends = _group_slices(whole, keys)
            kmat = whole[keys].to_numpy()[order]
            bmat = whole[bcols].to_numpy(dtype=np.float64)[order]
            out_k, out_b = [], []
            for s, e in zip(starts, ends):
                dec = _adaptive_partial(bmat[s:e])
                out_b.append(dec)
                out_k.append(np.repeat(kmat[s:s + 1], len(dec), axis=0))
            kcat = np.concatenate(out_k)
            part = pd.DataFrame(np.concatenate(out_b), columns=bcols)
            for i, k in enumerate(keys):
                part.insert(i, k, kcat[:, i])
            part["__gwkt"] = None
            parts.append(part)
        if gacc:
            gdf = pd.DataFrame(gacc, columns=keys + ["__gwkt"])
            # map-side combine for general partials too: one unioned
            # geometry per key per partition
            for kv, grp in gdf.groupby(keys, sort=False, dropna=False):
                u = B.union_geom([G.parse_wkt(w) for w in grp["__gwkt"]])
                kv = kv if isinstance(kv, tuple) else (kv,)
                parts.append(pd.DataFrame(
                    [kv + (None, None, None, None, G.to_wkt(u))],
                    columns=keys + bcols + ["__gwkt"]))
        whole = _concat_batches(parts)
        if whole is not None:
            yield whole

    partials = routed.mapInPandas(combine, schema=bounds_schema)
    if _partials_only:
        # test/diagnostic hook: the rows that would enter the ONLY shuffle —
        # the skew proof asserts |partials| << |raw rows| for hot dense keys
        return partials

    # ---- stage 3: the only shuffle — exact union area per group ------------
    # repartition(keys) + mapInPandas instead of groupBy().applyInPandas:
    # grouped-map ships ONE Arrow batch and one pandas frame PER GROUP
    # (~ms of fixed cost each — 287 groups cost >1s serially); here each
    # partition arrives as one batch and groups split with a numpy lexsort,
    # so per-group cost is just the kernel call.
    def final_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        whole = _concat_batches(batches)
        if whole is None:
            return
        order, starts, ends = _group_slices(whole, keys)
        kmat = whole[keys].to_numpy()[order]
        bmat = whole[bcols].to_numpy(dtype=np.float64)[order]
        gw = whole["__gwkt"].to_numpy()[order]
        areas = np.empty(len(starts), dtype=np.float64)
        for gi, (s, e) in enumerate(zip(starts, ends)):
            gwkts = [w for w in gw[s:e] if w is not None]
            if gwkts:
                # mixed partials: exact general union of the trapezoid
                # partials plus the rect partials (rects are polygons too)
                rect_rows = bmat[s:e][pd.isna(gw[s:e])]
                geoms = [G.parse_wkt(w) for w in gwkts]
                if len(rect_rows):
                    # rects_to_geom requires pairwise-disjoint members (the
                    # multipolygon follows even-odd parity, so overlap XORs
                    # out); partials arrive overlapping both across map
                    # partitions and from the adaptive combine's raw branch —
                    # disjoint-ify before packing
                    disjoint = R.union_decompose(rect_rows)
                    geoms.append(G.rects_to_geom([tuple(r) for r in disjoint]))
                areas[gi] = B.union_area(geoms)
            else:
                areas[gi] = R.union_area(bmat[s:e])
        out = pd.DataFrame(kmat[starts], columns=keys)
        out[out_col] = areas
        yield out

    return partials.repartition(*keys).mapInPandas(
        final_partition, schema=f"{key_schema}, `{out_col}` double"
    )


def dissolve_transform_area(df: DataFrame, group_cols: Sequence[str],
                            geom_col: str, clip_bounds: Sequence[str],
                            geom_bounds: Sequence[str] | None = None,
                            out_col: str = "area",
                            src_crs: str = "EPSG:3857",
                            dst_crs: str = "EPSG:5880",
                            geom_expr: str | None = None) -> DataFrame:
    """Fused full-parity chain: per group
        area( transform( clip ∩ union( hygiene(geoms) ) ) )
    with hygiene = Buffer(MakeValid(GeomFromWKT(·)), 0), transform = the
    per-vertex EPSG:3857→5880 polyconic, area = translated shoelace — the
    reference's entire post-join dataflow
    (spark_job/process_geodata.py:102-139) in ONE Python crossing.

    Why this exists next to union_aggr + the verbatim F.expr chain
    (`crop_analytics_full_chain`): the chained form crosses the Arrow
    boundary three times (hygiene UDF pass, union stage 1, union stage 2),
    and at 600k rows each crossing costs more than all the JVM compute in
    the plan combined; this operator crosses it once, in the per-group
    finish. Semantics are preserved exactly:

      * canonical-rect rows are PROVEN fixed points of the hygiene chain
        (functions/spatial._rect_fixed_mask, property-tested), so skipping
        the UDFs for them is the same fixed-point fast path the UDFs
        themselves take — just before the Arrow boundary instead of after;
      * non-rect rows get the real kernel hygiene
        (normalize→make_valid→normalize ≡ Buffer(MakeValid(FromWKT),0))
        inside the per-group finish;
      * the clip runs AFTER the union, on the same canonical band
        decomposition the oracle replicates — clip-before-union (the
        flagship's trick) would change the band structure and, post
        nonlinear transform, the per-piece shoelace sum.

    Contract: `clip_bounds` are 4 numeric columns (x1, y1, x2, y2) of an
    axis-aligned clip rectangle, constant per group (they ride as extra
    grouping keys). A non-rectangular clip needs the general chained form.
    NULL-geometry rows are dropped in the JVM before the exchange, so a
    group whose members ALL have NULL geometry produces no output row
    (unlike a plain Spark groupBy, which would emit the group with a
    NULL/0 aggregate) — all-NULL groups are out of contract; pre-filter or
    coalesce geometries upstream if such groups must appear in the result.
    src_crs/dst_crs resolve through the kernel CRS registry (r5: 4326,
    3857, 5880, UTM 326xx/327xx) — the default pair composes the exact
    functions the fused mercator_to_polyconic path uses, bit-identically.

    Scale shape: ONE keyed exchange feeding ONE Python stage. The JVM
    projection routes each row as keys + clip bounds + either its 4 bbox
    doubles (canonical rects) or its WKT (everything else) and drops NULL
    geometries; `repartition(keys)` then brings every member of a group to
    the per-group finish, which runs hygiene on the slow rows and the
    canonical decompose → clip → transform → shoelace. There is no map-side
    combine: a combine only shrinks a group whose rects saturate their
    footprint (`_adaptive_partial`'s 2×-bbox test), real land-use parcels
    are disjoint, and on them it passed every rect through unchanged, so
    the finish already received every raw rect of a hot group, one Arrow
    round trip later. The only work that moves to the reduce side is
    slow-row hygiene; the union itself stays memory-capped
    (`rectnp.MAX_CELLS`). Inputs that do saturate belong to
    dissolve_clip_area and union_aggr, which keep their combiners and skew
    proofs (tests/test_operators.py). The finish adds O(#bands) trig per
    group — independent of member count.
    """
    from ..kernel import transform as T

    fwd_dst, _ = T.resolve_crs(dst_crs)
    _, inv_src = T.resolve_crs(src_crs)

    def point_transform(x: float, y: float) -> tuple[float, float]:
        return fwd_dst(*inv_src(x, y))

    keys = list(group_cols)
    keys_all = keys + list(clip_bounds)
    bcols = ["__x1", "__y1", "__x2", "__y2"]

    # ---- JVM: parse/route (NO clip — union first), drop NULL geometries
    if geom_bounds is not None:
        bx1, by1, bx2, by2 = [f"cast(`{c}` as double)" for c in geom_bounds]
        g_ok = (f"({bx1} IS NOT NULL AND {by1} IS NOT NULL"
                f" AND {bx2} > {bx1} AND {by2} > {by1})")
        gx = (bx1, by1, bx2, by2)
    else:
        arr = wkt_nums_sql(f"`{geom_col}`")
        e = lambda i: f"try_element_at({arr}, {i})"  # noqa: E731
        g_ok = f"(`{geom_col}` IS NOT NULL AND {is_rect_sql(arr)})"
        gx = (e(1), e(2), e(3), e(6))
    fast = f"coalesce({g_ok}, false)"
    if geom_expr is not None:
        # slow-path-only WKT construction — see dissolve_clip_area's
        # geom_expr note (r13 optimization round)
        assert geom_bounds is not None, "geom_expr requires geom_bounds"
        gw = geom_expr
    else:
        gw = f"`{geom_col}`"
    routed = df.selectExpr(
        *[f"`{k}`" for k in keys_all],
        f"{fast} AS __fast",
        *[f"CASE WHEN {fast} THEN {v} END AS {c}" for v, c in zip(gx, bcols)],
        f"CASE WHEN NOT {fast} THEN ({gw}) END AS __gw",
    ).where("__fast OR __gw IS NOT NULL").drop("__fast")

    def _hygiene_decompose(w: str):
        """Kernel hygiene (≡ Buffer(MakeValid(GeomFromWKT(w)), 0)) then
        rectilinear decomposition; (rects, None) or (None, geometry)."""
        g = G.normalize(G.make_valid(G.normalize(G.parse_wkt(w))))
        try:
            return G.rectilinear_decompose(g), None
        except G.GeomError:
            return None, g

    # ---- Python: hygiene → canonical decompose → clip → transform → area
    n_keys = len(keys)

    def finish(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        whole = _concat_batches(batches)
        if whole is None:
            return
        order, starts, ends = _group_slices(whole, keys_all)
        kmat = whole[keys_all].to_numpy()[order]
        bmat = whole[bcols].to_numpy(dtype=np.float64)[order]
        gw = whole["__gw"].to_numpy()[order]
        slow = pd.notna(gw)
        areas = np.empty(len(starts), dtype=np.float64)
        for gi, (s, e) in enumerate(zip(starts, ends)):
            cx1, cy1, cx2, cy2 = (float(v) for v in kmat[s][n_keys:])
            rects = bmat[s:e][~slow[s:e]]
            geoms, extra = [], []
            for w in gw[s:e][slow[s:e]]:
                pieces, g = _hygiene_decompose(w)
                if g is None:
                    extra.extend(pieces)
                else:
                    geoms.append(g)
            if extra:
                rects = np.concatenate(
                    [rects, np.array(extra, dtype=np.float64)])
            if geoms:
                # general members: union, convex-clip to the rect window,
                # parity rinse, transform, shoelace. rects_to_geom needs
                # pairwise-disjoint members (its multipolygon follows
                # even-odd parity), so the raw rects are decomposed first
                if len(rects):
                    disjoint = R.union_decompose(rects)
                    geoms.append(G.rects_to_geom([tuple(r) for r in disjoint]))
                u = B.union_geom(geoms)
                clip_ring = [(cx1, cy1), (cx2, cy1), (cx2, cy2), (cx1, cy2)]
                clipped = G.clip_convex(u, clip_ring)
                clipped = G.normalize(G.make_valid(clipped))
                areas[gi] = G.area(
                    [[[point_transform(x, y) for x, y in ring]
                      for ring in poly] for poly in clipped])
                continue
            merged = R.union_decompose(rects)
            # clip each canonical band to the rect window (strict overlap)
            nx1 = np.maximum(merged[:, 0], cx1)
            ny1 = np.maximum(merged[:, 1], cy1)
            nx2 = np.minimum(merged[:, 2], cx2)
            ny2 = np.minimum(merged[:, 3], cy2)
            keep = (nx2 > nx1) & (ny2 > ny1)
            total = 0.0
            mp = point_transform
            for x1, y1, x2, y2 in zip(nx1[keep], ny1[keep],
                                      nx2[keep], ny2[keep]):
                ring = [mp(x1, y1), (0.0, 0.0), (0.0, 0.0), (0.0, 0.0)]
                ring[1] = mp(x2, y1)
                ring[2] = mp(x2, y2)
                ring[3] = mp(x1, y2)
                total += abs(G._ring_signed_area(ring))
            areas[gi] = total
        out = pd.DataFrame(kmat[starts][:, :n_keys], columns=keys)
        out[out_col] = areas
        yield out

    return routed.repartition(*keys_all).mapInPandas(
        finish,
        schema=", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in df.select(*keys).schema.fields
        ) + f", `{out_col}` double",
    )
