"""Projection fuser for text-spelled ST_ compositions, and the SQL-text
rewrites the engine applies before it.

A user spelling the reference's own chain —
``ST_Area(ST_Buffer(ST_GeomFromWKT(w), d))``, the shape of
``spark_job/process_geodata.py:120-139`` — through plain Spark pays for
each registered pandas UDF on its own: a WKT parse and a WKT format per
stage, one UDF chain per output column, and an extra Arrow round trip at
every multi-argument UDF. `select_st` fuses every maximal subtree of
scalar pandas UDF calls in a projection into ONE struct UDF (see its
docstring), and inside that UDF the nodes that form a carrier chain
(`_Fusion.packed`) run their packed bodies from functions/geomb.py: the
geometry travels from node to node as a kernel/packed.PackedBatch, is
parsed once per distinct geometry input and formatted as WKT only where
it surfaces. The r7/r8 profiles measured the WKT round trips at ~63% of
chained scalar cost. Decoding is a plain parse and the areal hygiene is
ST_GeomFromWKT's own body, so a fused chain and its lone calls give a
raw leaf the same answer (tests/test_path_parity.py); which nodes run
packed is pinned by tests/test_chainrw.py.

The text rewrites here are `rewrite` (the _FUSE scalar-consumer
fusions, applied before the fuser) and `salt_union_aggr_sql` (the
ST_Union_Aggr two-phase salt, applied by `sql_st`). Both copy every
token they do not recognize verbatim.
"""

from __future__ import annotations

import functools
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StructField, StructType
from pyspark.util import PythonEvalType

from ..kernel import packed as PK
from . import geomb as GB
from . import table as TB

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class _Call:
    __slots__ = ("name", "args")

    def __init__(self, name: str, args: list):
        self.name = name          # as written
        self.args = args          # list of _Expr


class _Expr:
    """A flat sequence of raw text fragments and _Call nodes."""

    __slots__ = ("items",)

    def __init__(self, items: list):
        self.items = items

    def sole_call(self):
        """The single _Call if this expr is exactly one call (allowing
        surrounding whitespace), else None."""
        calls = [x for x in self.items if isinstance(x, _Call)]
        raws = "".join(x for x in self.items if isinstance(x, str))
        if len(calls) == 1 and raws.strip() == "":
            return calls[0]
        return None


def _parse(s: str, i: int = 0, stops: str = ""):
    """Parse s[i:] into an _Expr, stopping (exclusive) at a top-level
    character in `stops` (call arguments stop at ',' and ')', a bare
    group at ')'). Returns (expr_items, next_index, stopped_char)."""
    items: list = []
    buf: list = []
    n = len(s)
    while i < n:
        c = s[i]
        if c == "'":                                # SQL string literal
            j = i + 1
            while j < n:
                if s[j] == "'":
                    if j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            buf.append(s[i:j + 1])
            i = j + 1
            continue
        if c == "`":                                # backticked identifier
            j = s.find("`", i + 1)
            j = n - 1 if j < 0 else j
            buf.append(s[i:j + 1])
            i = j + 1
            continue
        if c in stops:
            break
        if c == "(":
            # bare group (not a call): its content parses recursively, so
            # calls inside stay visible and its ')' cannot close the
            # enclosing call
            sub, i, stopped = _parse(s, i + 1, ")")
            for x in ["(", *sub, stopped]:
                if isinstance(x, str):
                    buf.append(x)
                    continue
                if buf:
                    items.append("".join(buf))
                    buf = []
                items.append(x)
            i += len(stopped)
            continue
        m = _IDENT.match(s, i)
        if m:
            name = m.group(0)
            j = m.end()
            k = j
            while k < n and s[k] in " \t\n":
                k += 1
            if k < n and s[k] == "(":
                # function call: parse comma-separated args
                args = []
                k += 1
                while True:
                    sub, k, stopped = _parse(s, k, "),")
                    args.append(_Expr(sub))
                    if stopped == ",":
                        k += 1
                        continue
                    if stopped == ")":
                        k += 1
                        break
                    break                            # EOF: tolerate
                if buf:
                    items.append("".join(buf))
                    buf = []
                # zero-arg calls parse as one empty arg; canonicalize
                if len(args) == 1 and not args[0].items:
                    args = []
                items.append(_Call(name, args))
                i = k
                continue
            buf.append(name)
            i = j
            continue
        buf.append(c)
        i += 1
    if buf:
        items.append("".join(buf))
    return items, i, (s[i] if i < n else "")


#: scalar-consumer fusions (r13): (outer, inner) -> fused text function.
#: The fused kernel computes the outer scalar WITHOUT materializing the
#: inner geometry (ST_NPoints∘ST_Segmentize is a pure vertex-count
#: formula; the densified ring itself is never built). Applied before
#: the projection fuser; fused == composition is parity-pinned
#: (tests/test_chainrw.py). ST_NumPoints is not fused: it counts only a
#: LINESTRING, and the counter counts every kind.
_FUSE = {
    ("st_npoints", "st_segmentize"): "ST_SegmentizeNPoints",
}


def _emit_call(call: _Call) -> str:
    fuse_inner = call.args[0].sole_call() if len(call.args) == 1 else None
    if fuse_inner is not None:
        fused = _FUSE.get((call.name.lower(), fuse_inner.name.lower()))
        if fused is not None:
            inner = ",".join(_emit_expr(a) for a in fuse_inner.args)
            return f"{fused}({inner})"
    # recurse: fusions may hide in any arg. Join with a bare "," (args
    # keep their original surrounding whitespace) so an untouched subtree
    # reproduces its input verbatim.
    inner = ",".join(_emit_expr(a) for a in call.args)
    return f"{call.name}({inner})"


def _emit_expr(expr: _Expr) -> str:
    return "".join(x if isinstance(x, str) else _emit_call(x)
                   for x in expr.items)


def rewrite(expr: str) -> str:
    """One SQL expression string with the _FUSE scalar-consumer fusions
    applied; everything else is returned verbatim."""
    items, _, _ = _parse(expr)
    return _emit_expr(_Expr(items))


# ------------------------------------------------- projection fuser

_FIELD = re.compile(r"\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)")
_ALIASED = re.compile(r"(?is).*\sAS\s+([A-Za-z_][A-Za-z0-9_]*|`[^`]*`)\s*")


@functools.cache
def _udfs() -> dict:
    """Lower-cased registered name -> UDF (SQL names are
    case-insensitive)."""
    return {name.lower(): fn for name, fn in TB.udf_table().items()}


def _resolve(call: _Call, field):
    """(UDF, canonical field) when `call` names a deterministic scalar
    pandas UDF and `field` is a field of its struct result (or None for
    a non-struct result); else None."""
    fn = _udfs().get(call.name.lower())
    if (fn is None or fn.evalType != PythonEvalType.SQL_SCALAR_PANDAS_UDF
            or not fn.deterministic):
        return None
    if not isinstance(fn.returnType, StructType):
        return (fn, None) if field is None else None
    for name in fn.returnType.fieldNames():
        if field is not None and name.lower() == field.lower():
            return fn, name
    return None


def _call_field(expr: _Expr):
    """(call, field) if expr is exactly one call, optionally followed by
    a `.field` access; else None."""
    items = [x for x in expr.items if not (isinstance(x, str)
                                          and not x.strip())]
    if not items or not isinstance(items[0], _Call) or len(items) > 2:
        return None
    if len(items) == 1:
        return items[0], None
    m = isinstance(items[1], str) and _FIELD.fullmatch(items[1].rstrip())
    return (items[0], m.group(1)) if m else None


def _has_udf(expr: _Expr) -> bool:
    return any(isinstance(x, _Call) and (x.name.lower() in _udfs()
                                         or any(map(_has_udf, x.args)))
               for x in expr.items)


def _fusable(call: _Call, field) -> bool:
    """Every argument is a fusable call or UDF-free text."""
    return _resolve(call, field) is not None and all(
        ((cf := _call_field(a)) and _fusable(*cf)) or not _has_udf(a)
        for a in call.args)


class _Fusion:
    """One projection's struct UDF under construction: its arguments are
    the deduplicated UDF-free leaf expressions, its body runs each
    distinct UDF node once — nodes keyed on (function object, argument
    refs), so aliases of one function share a node — and its fields are
    the roots of the fused subtrees."""

    def __init__(self):
        self.leaves: dict = {}     # leaf text -> argument index
        self.nodes: dict = {}      # (fn, refs) -> node index (dep order)
        self.carrier: list = []    # node index -> GB.Carrier or None
        self.outs: dict = {}       # ref -> field index
        self.calls = 0

    def _ref(self, call: _Call, field) -> tuple:
        fn, field = _resolve(call, field)
        self.calls += 1
        refs = []
        for a in call.args:
            cf = _call_field(a)
            if cf and _resolve(*cf):
                refs.append(self._ref(*cf))
            else:
                text = _emit_expr(a).strip()
                refs.append(("c", self.leaves.setdefault(
                    text, len(self.leaves))))
        key = (fn, tuple(refs))
        if key not in self.nodes:
            self.nodes[key] = len(self.nodes)
            self.carrier.append(TB.CARRIER.get(call.name.lower()))
        return ("v", self.nodes[key], field)

    def _field(self, ref) -> str:
        return f"__fz.f{self.outs.setdefault(ref, len(self.outs))}"

    def emit(self, expr: _Expr) -> str:
        """expr with each maximal fusable subtree replaced by its field."""
        out, items, i = [], expr.items, 0
        while i < len(items):
            x = items[i]
            i += 1
            if isinstance(x, str):
                out.append(x)
                continue
            tail = items[i] if i < len(items) else None
            m = isinstance(tail, str) and _FIELD.match(tail)
            if m and _fusable(x, m.group(1)):
                out.append(self._field(self._ref(x, m.group(1))))
                out.append(tail[m.end():])
                i += 1
            elif _fusable(x, None):
                out.append(self._field(self._ref(x, None)))
            else:
                out.append(f"{x.name}("
                           + ",".join(self.emit(a) for a in x.args) + ")")
        return "".join(out)

    def packed(self) -> set:
        """The nodes that run their packed body (functions/table.CARRIER):
        every member of a carrier chain, i.e. of >= 2 nodes with a body
        linked through geometry arguments that a geometry-producing body
        fills, at least one of them not hygiene (ST_GeomFromWKT /
        ST_AsText). A lone call stays on its registered UDF: for a
        lane-backed function (ST_X / ST_Y, the interval predicates) or
        a parse straight into a serialize that is cheaper than a decode
        and an encode, and a name whose table row has a body and no lane
        (the measures, the coordinate maps, …) is registered as that
        one-node decode, body and encode already. A name without a body
        ends the chain at its node; chains inside its arguments still
        form."""
        comp = list(range(len(self.nodes)))

        def root(k):
            while comp[k] != k:
                k = comp[k]
            return k

        for k, (_, refs) in enumerate(self.nodes):
            c = self.carrier[k]
            for pos in c.geom if c else ():
                if pos < len(refs) and refs[pos][0] == "v":
                    j = refs[pos][1]
                    if self.carrier[j] and self.carrier[j].produces:
                        comp[root(j)] = root(k)
        chains: dict = {}
        for k in range(len(comp)):
            chains.setdefault(root(k), []).append(k)
        return {k for ks in chains.values() if len(ks) >= 2
                and not all(self.carrier[k].hygiene for k in ks)
                for k in ks}

    def udf(self):
        """The struct pandas_udf; call it on the leaves, in order."""
        steps, outs = list(self.nodes), list(self.outs)
        packed = self.packed()
        bodies = [self.carrier[k] if k in packed else None
                  for k in range(len(steps))]

        def dtype(ref):
            rt = steps[ref[1]][0].returnType
            return rt if ref[2] is None else rt[ref[2]].dataType

        schema = StructType([StructField(f"f{k}", dtype(r))
                             for k, r in enumerate(outs)])

        def fused(*cols: pd.Series) -> pd.DataFrame:
            vals: list = []
            decoded: dict = {}     # leaf or plain node -> PackedBatch
            # id(packed value) -> its WKT column; ST_AsText passes its
            # argument's batch on, so the two share one encode
            encoded: dict = {}

            def get(ref):
                if ref[0] == "c":
                    return cols[ref[1]]
                v = vals[ref[1]]
                if isinstance(v, PK.PackedBatch):
                    if id(v) not in encoded:
                        encoded[id(v)] = GB.encode(v, cols[0].index)
                    v = encoded[id(v)]
                return v if ref[2] is None else v[ref[2]]

            def get_packed(ref):
                v = vals[ref[1]] if ref[0] == "v" else None
                if isinstance(v, PK.PackedBatch):
                    return v
                if ref not in decoded:
                    decoded[ref] = GB.decode(get(ref))
                return decoded[ref]

            for (fn, refs), c in zip(steps, bodies):
                if c is None:
                    vals.append(fn.func(*map(get, refs)))
                    continue
                v = c.body(*(get_packed(r) if i in c.geom else get(r)
                             for i, r in enumerate(refs)))
                if isinstance(v, pd.Series):
                    v.index = cols[0].index
                elif c.reprints:
                    v = PK.as_printed(v)
                vals.append(v)
            return pd.DataFrame({f"f{k}": get(r)
                                 for k, r in enumerate(outs)})

        return pandas_udf(fused, schema)


def select_st(df: DataFrame, *exprs: str) -> DataFrame:
    """df.selectExpr through the projection fuser (after the _FUSE
    rewrite).

    Spark evaluates Python UDFs badly when they share work: EvalPythonExec
    runs one chain per OUTPUT column, so a UDF subtree read by two outputs
    is computed twice, and a UDF with more than one argument starts a new
    ArrowEvalPython frontier (an extra Arrow round trip). The fuser
    collects every maximal subtree of scalar pandas UDF calls across the
    projection (a UDF nested inside a JVM expression is a boundary: it is
    fused on its own, the JVM expression and its consumer stay) and runs
    them as ONE struct pandas_udf whose arguments are the deduplicated
    UDF-free leaf expressions; its body calls each distinct subtree's
    registered function once, in dependency order, and the outputs read
    its fields (`__fz.f0`...). Inside that body a carrier chain
    (_Fusion.packed) passes packed batches from node to node: each
    distinct geometry input decodes once, and a packed value is formatted
    as WKT only where it surfaces, as an output or as the argument of a
    UDF without a packed body. A projection with fewer than two UDF calls is
    a plain select. Registration must already have happened
    (functions.spatial.register_spatial_functions)."""
    fz = _Fusion()
    texts = [rewrite(e) for e in exprs]
    fused = [fz.emit(_Expr(_parse(t)[0])) for t in texts]
    if fz.calls < 2:
        return df.select(*map(F.expr, texts))
    # an unaliased output keeps the name Spark gives its unfused spelling
    cols = [F.expr(f) if f == t or _ALIASED.fullmatch(t)
            else F.expr(f).alias(df.select(F.expr(t)).columns[0])
            for t, f in zip(texts, fused)]
    staged = df.select("*", fz.udf()(*map(F.expr, fz.leaves)).alias("__fz"))
    out = staged.select(*cols)
    return out.drop("__fz") if "__fz" in out.columns else out


def sql_st(spark: SparkSession, sql: str) -> DataFrame:
    """spark.sql with the ST_Union_Aggr auto-salt (salt_union_aggr_sql
    below) applied to the whole statement — safe because it only touches
    the strict canonical GROUP BY shape and copies every other token
    (strings, identifiers, keywords) verbatim."""
    from .spatial import register_spatial_functions

    register_spatial_functions(spark)
    return spark.sql(salt_union_aggr_sql(sql))


# ---------------------------------------------- ST_Union_Aggr auto-salt

UNION_AGGR_SALT_BUCKETS = 16


def _depth0_scan(s: str):
    """Yield (i, ch) for characters at paren depth 0 outside string
    literals / backticks."""
    depth = 0
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            j = i + 1
            while j < n:
                if s[j] == "'":
                    if j + 1 < n and s[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            i = j + 1
            continue
        if c == "`":
            j = s.find("`", i + 1)
            i = (n if j < 0 else j) + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif depth == 0:
            yield i, c
        i += 1


def _split_top(s: str) -> list:
    """Split at depth-0 commas."""
    cuts = [i for i, c in _depth0_scan(s) if c == ","]
    parts, prev = [], 0
    for i in cuts:
        parts.append(s[prev:i])
        prev = i + 1
    parts.append(s[prev:])
    return parts


def _kw_positions(s: str, kw: str) -> list:
    """Start indices of depth-0 word-boundary occurrences of kw (which
    may contain a space, e.g. 'group by')."""
    low = s.lower()
    pat = re.compile(r"(?<![A-Za-z0-9_])" + kw.replace(" ", r"\s+")
                     + r"(?![A-Za-z0-9_])")
    d0 = {i for i, _ in _depth0_scan(s)}
    return [m.start() for m in pat.finditer(low) if m.start() in d0]


def _norm_ws(s: str) -> str:
    return " ".join(s.split())


def _ua_calls(expr: _Expr, out: list):
    """Collect every st_union_aggr _Call in the tree (any depth)."""
    for it in expr.items:
        if isinstance(it, _Call):
            if it.name.lower() == "st_union_aggr":
                out.append(it)
            for a in it.args:
                _ua_calls(a, out)


_OTHER_AGGS = re.compile(
    r"(?<![A-Za-z0-9_])(count|sum|min|max|avg|first|last|collect_list|"
    r"collect_set|st_envelope_aggr|st_intersection_aggr|st_collect_aggr)"
    r"\s*\(", re.IGNORECASE)


def salt_union_aggr_sql(sql: str, buckets: int = UNION_AGGR_SALT_BUCKETS
                        ) -> str:
    """Auto-salt the registered ST_Union_Aggr SQL name (r8 verdict
    item 8): rewrite

        SELECT keys..., <expr over ST_Union_Aggr(g)> AS u
        FROM body GROUP BY keys

    into the two-phase salted plan (functions/spatial.salted_union_aggr,
    driver-verified by `st_union_aggr_salted`): phase 1 groups by
    (keys, pmod(xxhash64(g), buckets)) computing partial unions, phase 2
    unions the <= buckets partials per group — geometric union is
    associative and commutative, so the result is IDENTICAL while no
    single task ever aggregates more than ~1/buckets of a hot key's rows.

    On the verdict's "above a group-size threshold": group sizes are
    unknowable at SQL-rewrite time without table stats, and the two-phase
    overhead is one extra exchange of <= buckets x groups narrow partial
    rows — negligible at every size — so the rewrite is unconditional for
    statements it recognizes (strictly safer than thresholding on a
    guess).

    Strictly scoped: the statement must be a single depth-0
    SELECT ... FROM ... GROUP BY ... block (no HAVING / ORDER BY / LIMIT /
    DISTINCT / UNION / WINDOW at depth 0), every select item must be
    either a group key (textually, or `key AS alias`) or an aliased
    expression over >= 1 ST_Union_Aggr call and no other aggregate.
    Anything else is returned verbatim (the plain bounded-hold UDAF path
    still applies)."""
    if "st_union_aggr" not in sql.lower():
        return sql
    stmt = sql.rstrip().rstrip(";")
    sel = _kw_positions(stmt, "select")
    frm = _kw_positions(stmt, "from")
    grp = _kw_positions(stmt, "group by")
    if (len(sel) != 1 or len(frm) != 1 or len(grp) != 1
            or sel[0] != len(stmt) - len(stmt.lstrip())):
        return sql
    for bad in ("having", "order by", "limit", "distinct", "union",
                "window", "qualify", "with"):
        if _kw_positions(stmt, bad):
            return sql
    select_list = stmt[sel[0] + 6:frm[0]]
    body = stmt[frm[0] + 4:grp[0]]
    keys_txt = stmt[grp[0] + len(stmt[grp[0]:grp[0] + 10].rstrip()
                                  .split()[0]):]
    # "group by" spans two words; recompute the slice robustly
    m = re.match(r"group\s+by", stmt[grp[0]:], re.IGNORECASE)
    keys_txt = stmt[grp[0] + m.end():]
    keys = [k.strip() for k in _split_top(keys_txt)]
    key_norm = {_norm_ws(k).lower() for k in keys}

    partials: list = []          # (arg_text, partial_name)

    def partial_for(arg_text: str) -> str:
        for t, name in partials:
            if _norm_ws(t) == _norm_ws(arg_text):
                return name
        name = f"__ua_p{len(partials)}"
        partials.append((arg_text, name))
        return name

    outer_items: list = []
    inner_keys: list = []        # key expr text as written (with alias)

    for item in _split_top(select_list):
        raw = item.strip()
        if not raw:
            return sql
        # trailing depth-0 alias
        alias = None
        expr_txt = raw
        as_pos = _kw_positions(raw, "as")
        if as_pos:
            tail = raw[as_pos[-1] + 2:].strip()
            if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*|`[^`]+`", tail):
                alias = tail
                expr_txt = raw[:as_pos[-1]].strip()
        if _norm_ws(expr_txt).lower() in key_norm:
            inner_keys.append(raw)       # keep alias in the inner select
            outer_items.append(alias or expr_txt)
            continue
        if "st_union_aggr" not in expr_txt.lower():
            return sql
        if alias is None or _OTHER_AGGS.search(expr_txt):
            return sql
        items, _, _ = _parse(expr_txt)
        tree = _Expr(items)
        calls: list = []
        _ua_calls(tree, calls)
        if not calls:
            return sql

        def emit(e: _Expr) -> str:
            out = []
            for it in e.items:
                if isinstance(it, str):
                    out.append(it)
                elif it.name.lower() == "st_union_aggr":
                    if len(it.args) != 1:
                        raise ValueError
                    out.append("ST_Union_Aggr("
                               + partial_for(_emit_expr(it.args[0]).strip())
                               + ")")
                else:
                    out.append(f"{it.name}("
                               + ",".join(emit(a) for a in it.args) + ")")
            return "".join(out)

        try:
            outer_items.append(f"{emit(tree)} AS {alias}")
        except ValueError:
            return sql

    if not partials:
        return sql
    salt = (f"pmod(xxhash64({partials[0][0]}), {buckets})")
    inner_aggs = ", ".join(
        f"ST_Union_Aggr({t}) AS {name}" for t, name in partials)
    inner = (f"SELECT {', '.join(inner_keys)}, {inner_aggs} "
             f"FROM {body.strip()} "
             f"GROUP BY {', '.join(keys)}, {salt}")
    outer_keys = []
    for item in _split_top(select_list):
        raw = item.strip()
        as_pos = _kw_positions(raw, "as")
        expr_txt = raw[:as_pos[-1]].strip() if as_pos else raw
        if _norm_ws(expr_txt).lower() in key_norm:
            outer_keys.append(raw[as_pos[-1] + 2:].strip() if as_pos
                              else raw)
    return (f"SELECT {', '.join(outer_items)} FROM ({inner}) "
            f"GROUP BY {', '.join(outer_keys)}")
