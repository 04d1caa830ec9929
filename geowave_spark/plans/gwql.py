"""GWQL — the reference's typed query language, statement level.

The reference ships a full ANTLR grammar for GWQL (core/store/src/main/
antlr4/org/locationtech/geowave/core/store/query/gwql/parse/GWQL.g4)
with two statements:

  ``SELECT <selectors|aggregates|*> FROM <type> [WHERE <filter>] [LIMIT n]``
  ``DELETE FROM <type> [WHERE <filter>]``

driven through ``GWQLParser.parseStatement`` → ``SelectStatement`` /
``DeleteStatement`` (core/store/.../query/gwql/statement/*.java). The
filter grammar is NOT SQL: it is the reference's expression language —
comparison / BETWEEN / IS NULL predicates over arithmetic expressions
with ``::`` casts, predicate functions (BBOX, INTERSECTS, DWITHIN,
strStartsWith, …; core/geotime/.../gwql/SpatialPredicates.java,
core/store/.../gwql/function/predicate/TextPredicates.java), temporal
operator predicates (``ts AFTER '2020-01-01'``; TemporalOperators.java)
and INCLUDE/EXCLUDE constants. Selectors are plain columns or
aggregate functions COUNT/SUM/MIN/MAX/BBOX (function/aggregation/*;
the grammar forbids mixing the two selector kinds).

This module is the Spark-first equivalent: a hand-written tokenizer +
recursive-descent parser for the same grammar, compiled to

  1. the engine's index-optimized constraint plan (``CQLPlan`` in
     plans/cql.py — BBOX/INTERSECTS/WITHIN/DWITHIN/BEYOND/DURING
     conjuncts become coarse constraint + exact refine, exactly the
     OptimalCQLQuery split), and
  2. residual Catalyst SQL text for everything else — Catalyst pushes
     these into the scan, so the physical plan is identical to the
     hand-built DataFrame query.

Temporal operator semantics follow the reference's Interval algebra
(core/geotime/.../filter/expression/temporal/{After,Before,During,
BeforeOrDuring,DuringOrAfter}.java) specialized to instant-valued
fields: an instant literal ``'t'`` is the empty interval [t, t+1ms)
(TimeUtils.getIntervalEnd — 1 MILLISECOND is the algebra's quantum),
an interval literal ``'a/b'`` is [a, b). The engine renders the
MILLISECOND-QUANTIZED equivalent forms — exact for any data whose
timestamps have ≥1 ms granularity (the fixtures' and typical event
data's regime); a field value with a sub-millisecond fraction can
shift a boundary decision by <1 ms relative to the reference's
nanosecond Instants, a documented quantization deviation:

    field AFTER  't'    → field >  t     (≡ start ≥ t+1ms at ms grain)
    field AFTER  'a/b'  → field >= b     (exact)
    field BEFORE lit    → field <  start (≡ end ≤ start at ms grain)
    field DURING 'a/b'  → a <= field < b (≡ end ≤ b at ms grain)
    field BEFORE_OR_DURING 'a/b' → field < b
    field DURING_OR_AFTER  'a/b' → field >= a  (exact)
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.geom.udfs import geom_from_wkt
from geowave_spark.geom.wkb import wkb_loads
from geowave_spark.plans.cql import (
    CQLPlan,
    _POINT_RE,
    apply_plan,
    _iso_to_sql,
)


class GWQLParseException(ValueError):
    """Parse / validation failure (GWQLParseException.java analog)."""


# ------------------------------------------------------------ tokenizer

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<string>'(?:\\.|''|[^'\\])*')
  | (?P<qident>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
  | (?P<number>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
  | (?P<ident>[a-zA-Z_]\w*)
  | (?P<op><>|<=|>=|::|[<>=(),*/+\-;\[\]])
    """,
    re.VERBOSE,
)

_KEYWORDS = {
    "SELECT", "DELETE", "FROM", "WHERE", "LIMIT", "AS", "AND", "OR",
    "NOT", "IS", "NULL", "BETWEEN", "INCLUDE", "EXCLUDE", "TRUE", "FALSE",
}


@dataclass
class _Tok:
    kind: str  # 'string' | 'number' | 'ident' | 'qident' | 'kw' | 'op' | 'eof'
    text: str
    pos: int


def tokenize(text: str) -> list[_Tok]:
    toks, i = [], 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if m is None:
            raise GWQLParseException(f"UNEXPECTED_CHAR={text[i]!r} at {i}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        tok = m.group()
        if kind == "ident" and tok.upper() in _KEYWORDS:
            toks.append(_Tok("kw", tok.upper(), m.start()))
        elif kind == "qident":
            q = tok[0]
            toks.append(_Tok("ident", tok[1:-1].replace(q + q, q), m.start()))
        else:
            toks.append(_Tok(kind, tok, m.start()))
    toks.append(_Tok("eof", "", len(text)))
    return toks


# ------------------------------------------------------------------ AST
# Expressions and filters are plain tuples, first element = node kind:
#   expr:   ('num', float|int) ('str', s) ('bool', b) ('col', name)
#           ('bin', op, l, r) ('fn', NAME, [args]) ('cast', e, type)
#   filter: ('and', l, r) ('or', l, r) ('not', f) ('include',)
#           ('exclude',) ('cmp', op, e1, e2) ('between', e, lo, hi)
#           ('isnull', e, negated) ('predfn', NAME, [exprs])
#           ('opred', NAME, e1, e2)

_TEMPORAL_OPS = {"AFTER", "BEFORE", "DURING", "BEFORE_OR_DURING", "DURING_OR_AFTER"}

# predicate functions the residual renderer knows (beyond the spatial
# constraint set): GWQL text predicates registered as Spark temp
# functions by functions/registry.register_all
_TEXT_PRED_FNS = {"STRSTARTSWITH", "STRENDSWITH", "STRCONTAINS"}
# recognized spatial predicates with no point-table rendering: fail
# loudly (same stance as plans/cql.py _SPATIAL_RESERVED)
_SPATIAL_RESERVED = {
    "DISJOINT", "CONTAINS", "CROSSES", "TOUCHES", "OVERLAPS", "EQUALS",
    "RELATE", "INTERSECTSLOOSE", "DISJOINTLOOSE",
}
_EXPR_FNS = {"ABS", "CONCAT"}

_AGG_FNS = {"COUNT", "SUM", "MIN", "MAX", "BBOX"}

_CAST_TYPES = {
    "DATE": "TIMESTAMP",      # DateCastableType
    "NUMBER": "DOUBLE",       # NumberCastableType
    "TEXT": "STRING",         # TextCastableType
    "BOOLEAN": "BOOLEAN",     # BooleanCastableType
    "GEOMETRY": None,         # GeometryCastableType — WKT marker, see below
}


@dataclass
class Selector:
    """ColumnSelector / AggregationSelector (gwql/Selector.java)."""

    column: str | None = None          # plain column selector
    agg_fn: str | None = None          # aggregate selector
    agg_arg: str | None = None         # '*' or column name
    alias: str | None = None

    @property
    def name(self) -> str:
        if self.alias:
            return self.alias
        if self.agg_fn:
            return f"{self.agg_fn.lower()}({self.agg_arg})"
        return self.column


@dataclass
class GWQLStatement:
    kind: str                          # 'select' | 'delete'
    table: str
    selectors: list[Selector] = dc_field(default_factory=list)  # [] = '*'
    where: tuple | None = None
    limit: int | None = None


_WKT_TYPES = {
    "POINT", "LINESTRING", "POLYGON", "MULTIPOINT", "MULTILINESTRING",
    "MULTIPOLYGON", "GEOMETRYCOLLECTION",
}


class _Parser:
    def __init__(self, toks: list[_Tok], text: str = ""):
        self.toks = toks
        self.text = text
        self.i = 0

    # -- token helpers
    def peek(self, k: int = 0) -> _Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> _Tok:
        t = self.toks[self.i]
        if t.kind != "eof":
            self.i += 1
        return t

    def accept(self, kind: str, text: str | None = None) -> _Tok | None:
        t = self.peek()
        if t.kind == kind and (text is None or t.text == text):
            return self.next()
        return None

    def expect(self, kind: str, text: str | None = None) -> _Tok:
        t = self.accept(kind, text)
        if t is None:
            got = self.peek()
            raise GWQLParseException(
                f"expected {text or kind}, got {got.text!r} at {got.pos}"
            )
        return t

    # -- statements
    def statement(self) -> GWQLStatement:
        if self.accept("kw", "SELECT"):
            stmt = self._select()
        elif self.accept("kw", "DELETE"):
            stmt = self._delete()
        else:
            t = self.peek()
            raise GWQLParseException(f"expected SELECT or DELETE at {t.pos}")
        while self.accept("op", ";"):
            pass
        self.expect("eof")
        return stmt

    def _select(self) -> GWQLStatement:
        selectors = self._selectors()
        self.expect("kw", "FROM")
        table = self.expect("ident").text
        where = self._where()
        limit = None
        if self.accept("kw", "LIMIT"):
            limit = int(self.expect("number").text)
        return GWQLStatement("select", table, selectors, where, limit)

    def _delete(self) -> GWQLStatement:
        self.expect("kw", "FROM")
        table = self.expect("ident").text
        return GWQLStatement("delete", table, [], self._where(), None)

    def _where(self) -> tuple | None:
        if self.accept("kw", "WHERE"):
            return self.filter()
        return None

    def _selectors(self) -> list[Selector]:
        if self.accept("op", "*"):
            return []
        sels = [self._selector()]
        while self.accept("op", ","):
            sels.append(self._selector())
        kinds = {s.agg_fn is not None for s in sels}
        if len(kinds) > 1:
            # grammar alternative: ALL aggregates or ALL columns
            raise GWQLParseException(
                "cannot mix aggregate and column selectors (GWQL.g4 selectors)"
            )
        return sels

    def _selector(self) -> Selector:
        name = self.expect("ident").text
        sel = Selector()
        if self.accept("op", "("):
            if name.upper() not in _AGG_FNS:
                raise GWQLParseException(f"unknown aggregation function {name}")
            sel.agg_fn = name.upper()
            if self.accept("op", "*"):
                sel.agg_arg = "*"
            else:
                sel.agg_arg = self.expect("ident").text
            self.expect("op", ")")
        else:
            sel.column = name
        if self.accept("kw", "AS"):
            sel.alias = self.expect("ident").text
        return sel

    # -- filters (precedence: OR < AND < NOT < predicate)
    def filter(self) -> tuple:
        f = self._and_filter()
        while self.accept("kw", "OR"):
            f = ("or", f, self._and_filter())
        return f

    def _and_filter(self) -> tuple:
        f = self._not_filter()
        while self.accept("kw", "AND"):
            f = ("and", f, self._not_filter())
        return f

    def _not_filter(self) -> tuple:
        if self.accept("kw", "NOT"):
            return ("not", self._not_filter())
        return self._predicate()

    def _predicate(self) -> tuple:
        if self.accept("kw", "INCLUDE"):
            return ("include",)
        if self.accept("kw", "EXCLUDE"):
            return ("exclude",)
        # parenthesized filter vs parenthesized expression: try the
        # filter parse first and backtrack (inputs are tiny)
        for opener, closer in (("(", ")"), ("[", "]")):
            if self.peek().kind == "op" and self.peek().text == opener:
                mark = self.i
                try:
                    self.next()
                    f = self.filter()
                    self.expect("op", closer)
                    return f
                except GWQLParseException:
                    self.i = mark  # fall through to expression parse
        # predicate function?  NAME ( ... ) not followed by a
        # comparison/operator → predicate function call
        if (
            self.peek().kind == "ident"
            and self.peek(1).kind == "op"
            and self.peek(1).text == "("
        ):
            mark = self.i
            name = self.next().text
            args = self._call_args()
            nxt = self.peek()
            if not (
                (nxt.kind == "op" and nxt.text in
                 ("=", "<>", "<", "<=", ">", ">=", "+", "-", "*", "/", "::"))
                or (nxt.kind == "kw" and nxt.text in ("BETWEEN", "IS"))
                or (nxt.kind == "ident" and nxt.text.upper() in _TEMPORAL_OPS)
            ):
                return ("predfn", name.upper(), args)
            self.i = mark  # it was an expression function — reparse below
        e1 = self.expression()
        t = self.peek()
        if t.kind == "op" and t.text in ("=", "<>", "<", "<=", ">", ">="):
            self.next()
            return ("cmp", t.text, e1, self.expression())
        if self.accept("kw", "BETWEEN"):
            lo = self.expression()
            self.expect("kw", "AND")
            return ("between", e1, lo, self.expression())
        if self.accept("kw", "IS"):
            neg = self.accept("kw", "NOT") is not None
            self.expect("kw", "NULL")
            return ("isnull", e1, neg)
        if t.kind == "ident" and t.text.upper() in _TEMPORAL_OPS:
            self.next()
            return ("opred", t.text.upper(), e1, self.expression())
        raise GWQLParseException(f"expected predicate at {t.pos}")

    def _wkt_literal(self) -> str:
        """Consume a bare WKT geometry literal (``POINT(0 0)``,
        ``POLYGON((…))``) by slicing the original statement text over
        the balanced parens — ECQL-compatible convenience on top of the
        grammar's ``'wkt'::geometry`` form."""
        start_tok = self.next()  # the geometry type keyword
        depth = 0
        while True:
            t = self.next()
            if t.kind == "eof":
                raise GWQLParseException("unbalanced WKT literal")
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                depth -= 1
                if depth == 0:
                    return self.text[start_tok.pos : t.pos + 1]

    def _call_args(self) -> list:
        self.expect("op", "(")
        if self.accept("op", ")"):
            return []
        args = [self.expression()]
        while self.accept("op", ","):
            args.append(self.expression())
        self.expect("op", ")")
        return args

    # -- expressions (precedence: +- < */ < :: cast < atom)
    def expression(self) -> tuple:
        e = self._term()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("+", "-"):
                self.next()
                e = ("bin", t.text, e, self._term())
            else:
                return e

    def _term(self) -> tuple:
        e = self._cast()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("*", "/"):
                self.next()
                e = ("bin", t.text, e, self._cast())
            else:
                return e

    def _cast(self) -> tuple:
        e = self._atom()
        while self.accept("op", "::"):
            ty = self.expect("ident").text.upper()
            if ty not in _CAST_TYPES:
                raise GWQLParseException(f"unknown cast type {ty}")
            e = ("cast", e, ty)
        return e

    def _atom(self) -> tuple:
        t = self.peek()
        if t.kind == "number":
            self.next()
            v = float(t.text)
            return ("num", int(v) if v.is_integer() and "." not in t.text else v)
        if t.kind == "op" and t.text == "-":  # unary minus on a literal
            self.next()
            n = self.expect("number")
            v = float(n.text)
            return ("num", -int(v) if v.is_integer() and "." not in n.text else -v)
        if t.kind == "string":
            self.next()
            body = t.text[1:-1].replace("''", "'").replace("\\'", "'")
            body = body.replace("\\\\", "\\")
            return ("str", body)
        if t.kind == "kw" and t.text in ("TRUE", "FALSE"):
            self.next()
            return ("bool", t.text == "TRUE")
        if t.kind == "ident":
            if self.peek(1).kind == "op" and self.peek(1).text == "(":
                if t.text.upper() in _WKT_TYPES:
                    return ("str", self._wkt_literal())
                name = self.next().text
                if name.upper() not in _EXPR_FNS:
                    raise GWQLParseException(f"unknown function {name}")
                return ("fn", name.upper(), self._call_args())
            self.next()
            return ("col", t.text)
        if t.kind == "op" and t.text in ("(", "["):
            closer = ")" if t.text == "(" else "]"
            self.next()
            e = self.expression()
            self.expect("op", closer)
            return e
        raise GWQLParseException(f"expected expression at {t.pos}")


def parse_statement(text: str) -> GWQLStatement:
    """GWQLParser.parseStatement analog — text → validated AST."""
    return _Parser(tokenize(text), text).statement()


# ------------------------------------------- filter → CQLPlan compiler


def _sql_str(s: str) -> str:
    # backslashes must be doubled too: Spark's default parser
    # (escapedStringLiterals=false) treats \ in a string literal as an
    # escape, so an unescaped 'a\b' would parse back as a DIFFERENT
    # string and the re-rendered residual would silently mis-compare
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _expr_sql(e: tuple) -> str:
    """Render an expression AST node to Spark SQL text."""
    k = e[0]
    if k == "num":
        return repr(e[1])
    if k == "str":
        return _sql_str(e[1])
    if k == "bool":
        return "TRUE" if e[1] else "FALSE"
    if k == "col":
        name = e[1]
        return name if re.fullmatch(r"[A-Za-z_]\w*", name) else f"`{name}`"
    if k == "bin":
        return f"({_expr_sql(e[2])} {e[1]} {_expr_sql(e[3])})"
    if k == "fn":
        return f"{e[1].lower()}({', '.join(_expr_sql(a) for a in e[2])})"
    if k == "cast":
        ty = _CAST_TYPES[e[2]]
        if ty is None:
            raise GWQLParseException(
                "::geometry cast is only valid inside a spatial predicate"
            )
        if ty == "TIMESTAMP" and e[1][0] == "str":
            return f"TIMESTAMP '{_iso_to_sql(e[1][1])}'"
        return f"CAST({_expr_sql(e[1])} AS {ty})"
    raise GWQLParseException(f"unrenderable expression {k}")


def _as_col(e: tuple, ctx: str) -> str:
    if e[0] == "col":
        return e[1]
    if e[0] == "cast":  # col::geometry etc — unwrap
        return _as_col(e[1], ctx)
    raise GWQLParseException(f"{ctx} expects a column reference")


def _as_num(e: tuple, ctx: str):
    if e[0] == "num":
        return e[1]
    raise GWQLParseException(f"{ctx} expects a numeric literal")


def _as_wkt(e: tuple, ctx: str) -> str:
    if e[0] == "str":
        return e[1]
    if e[0] == "cast" and e[2] == "GEOMETRY":
        return _as_wkt(e[1], ctx)
    raise GWQLParseException(f"{ctx} expects a WKT literal")


_GEO_UNITS = {"meters": 1.0, "kilometers": 1000.0}


def _dwithin_units(args: list, name: str) -> float | None:
    """Optional 4th DWITHIN/BEYOND argument: None = planar µdeg
    distance (no units token); a meters scale factor otherwise.
    Same contract as the ECQL side (plans/cql.py) — 'meters' /
    'kilometers' switch to great-circle semantics, anything else
    raises rather than silently misreading the distance."""
    if len(args) == 3:
        return None
    u = args[3]
    if u[0] != "str":
        raise GWQLParseException(f"{name} units expects a string literal")
    key = u[1].strip().lower()
    if key in _GEO_UNITS:
        return _GEO_UNITS[key]
    raise GWQLParseException(
        f"unsupported {name} units {u[1]!r} (supported: meters, "
        "kilometers, or omit for planar µdeg)"
    )




def _temporal_literal(e: tuple) -> tuple[str, str | None]:
    """'t' → (t, None) instant; 'a/b' → (a, b) interval (SQL literals)."""
    if e[0] == "cast" and e[2] == "DATE":
        return _temporal_literal(e[1])
    if e[0] != "str":
        raise GWQLParseException("temporal operator expects a date literal")
    s = e[1]
    if "/" in s:
        lo, hi = s.split("/", 1)
        return _iso_to_sql(lo), _iso_to_sql(hi)
    return _iso_to_sql(s), None


def _opred_sql(op: str, e1: tuple, e2: tuple) -> str:
    """Temporal operator predicate → Spark SQL (instant-field algebra,
    see module docstring)."""
    col = _expr_sql(e1)
    lo, hi = _temporal_literal(e2)
    t_lo = f"TIMESTAMP '{lo}'"
    t_hi = f"TIMESTAMP '{hi}'" if hi is not None else None
    if op == "AFTER":
        return f"{col} > {t_lo}" if hi is None else f"{col} >= {t_hi}"
    if op == "BEFORE":
        return f"{col} < {t_lo}"
    if op == "DURING":
        if hi is None:  # instant literal: [t, t+1ms)
            return f"({col} >= {t_lo} AND {col} < {t_lo} + INTERVAL 1 MILLISECOND)"
        return f"({col} >= {t_lo} AND {col} < {t_hi})"
    if op == "BEFORE_OR_DURING":
        return f"{col} < {t_hi}" if hi is not None else \
            f"{col} < {t_lo} + INTERVAL 1 MILLISECOND"
    if op == "DURING_OR_AFTER":
        return f"{col} >= {t_lo}"
    raise GWQLParseException(f"unknown temporal operator {op}")


def _loose_bbox(args: list) -> tuple[int, int, int, int]:
    """BBOXLOOSE arg validation + widening to enclosing cell bounds at
    ``res`` (optional 6th arg; defaults to api.DEFAULT_RES — the same
    resolution the DataStore indexes at). Single implementation shared
    by the constraint extractor and the residual renderer."""
    from geowave_spark.api import DEFAULT_RES
    from geowave_spark.operators.spatial_query import loose_bounds

    if len(args) not in (5, 6):
        raise GWQLParseException("BBOXLOOSE takes (col, x0, y0, x1, y1[, res])")
    _as_col(args[0], "BBOXLOOSE")
    x0, y0, x1, y1 = (int(_as_num(a, "BBOXLOOSE")) for a in args[1:5])
    res = int(_as_num(args[5], "BBOXLOOSE")) if len(args) == 6 else DEFAULT_RES
    bx0, bx1 = loose_bounds(x0, x1, res)
    by0, by1 = loose_bounds(y0, y1, res)
    return bx0, by0, bx1, by1


def _predfn_sql(name: str, args: list, x_col: str, y_col: str) -> str:
    """Render a predicate function residually (exact, point-table)."""
    if name in _TEXT_PRED_FNS:
        if len(args) != 2:
            raise GWQLParseException(f"{name} takes (column, text)")
        fn = {"STRSTARTSWITH": "strStartsWith", "STRENDSWITH": "strEndsWith",
              "STRCONTAINS": "strContains"}[name]
        return f"{fn}({_expr_sql(args[0])}, {_expr_sql(args[1])})"
    if name == "BBOX":
        if len(args) != 5:
            raise GWQLParseException("BBOX takes (col, x0, y0, x1, y1)")
        _as_col(args[0], "BBOX")
        x0, y0, x1, y1 = (_as_num(a, "BBOX") for a in args[1:5])
        return (f"({x_col} BETWEEN {x0} AND {x1} "
                f"AND {y_col} BETWEEN {y0} AND {y1})")
    if name in ("DWITHIN", "BEYOND"):
        if len(args) not in (3, 4):
            raise GWQLParseException(f"{name} takes (col, POINT, dist[, units])")
        pm = _POINT_RE.match(_as_wkt(args[1], name))
        if pm is None:
            raise GWQLParseException(f"{name} supports POINT references only")
        px, py = int(pm.group(1)), int(pm.group(2))
        scale = _dwithin_units(args, name)
        if scale is not None:
            # great-circle meters: the haversine closed form renders to
            # Spark SQL directly (radians/sin/cos/asin are all native
            # codegen functions — the residual stays JVM-side)
            from geowave_spark.operators.geodesic import haversine_m_sql

            r_m = float(_as_num(args[2], name)) * scale
            h = haversine_m_sql(str(px), str(py), x_col, y_col)
            op = "<=" if name == "DWITHIN" else ">"
            return f"({h} {op} {r_m!r})"
        d = int(_as_num(args[2], name))
        d2 = (f"((CAST({x_col} AS BIGINT) - {px}) * (CAST({x_col} AS BIGINT) - {px}) "
              f"+ (CAST({y_col} AS BIGINT) - {py}) * (CAST({y_col} AS BIGINT) - {py}))")
        return f"({d2} <= {d * d})" if name == "DWITHIN" else f"({d2} > {d * d})"
    if name in ("TOVERLAPS", "TCONTAINS"):
        # TemporalPredicates.java TOVERLAPS/TCONTAINS — Interval
        # algebra specialized to instant fields (module docstring):
        #   TOVERLAPS: field.end > lit.start AND field.start < lit.end
        #   TCONTAINS: field.start <= lit.start AND field.end >= lit.end
        if len(args) != 2:
            raise GWQLParseException(f"{name} takes (column, period)")
        col = _expr_sql(args[0])
        lo, hi = _temporal_literal(args[1])
        t_lo = f"TIMESTAMP '{lo}'"
        t_hi = f"TIMESTAMP '{hi}'" if hi is not None else             f"{t_lo} + INTERVAL 1 MILLISECOND"
        if name == "TOVERLAPS":
            return f"({col} >= {t_lo} AND {col} < {t_hi})"
        return (f"({col} <= {t_lo} AND "
                f"{col} + INTERVAL 1 MILLISECOND >= {t_hi})")
    if name == "BBOXLOOSE":
        # SpatialPredicates BBOXLOOSE: coarse-cell-only constraint, no
        # exact refinement — rendered as the widened exact bounds
        bx0, by0, bx1, by1 = _loose_bbox(args)
        return (f"({x_col} BETWEEN {bx0} AND {bx1} "
                f"AND {y_col} BETWEEN {by0} AND {by1})")
    if name in _SPATIAL_RESERVED or name in ("INTERSECTS", "WITHIN"):
        # polygon refinement needs the vectorized refine path, which is
        # only reachable as a top-level AND constraint — never silently
        # full-scan through an OR/NOT branch (plans/cql.py stance)
        raise GWQLParseException(
            f"spatial predicate {name} must be a top-level AND conjunct"
        )
    raise GWQLParseException(f"unknown predicate function {name}")


def _filter_sql(f: tuple, x_col: str, y_col: str) -> str:
    """Render a filter AST to one Spark SQL boolean expression."""
    k = f[0]
    if k == "and":
        return f"({_filter_sql(f[1], x_col, y_col)} AND {_filter_sql(f[2], x_col, y_col)})"
    if k == "or":
        return f"({_filter_sql(f[1], x_col, y_col)} OR {_filter_sql(f[2], x_col, y_col)})"
    if k == "not":
        return f"(NOT {_filter_sql(f[1], x_col, y_col)})"
    if k == "include":
        return "TRUE"
    if k == "exclude":
        return "FALSE"
    if k == "cmp":
        return f"({_expr_sql(f[2])} {f[1]} {_expr_sql(f[3])})"
    if k == "between":
        return (f"({_expr_sql(f[1])} BETWEEN {_expr_sql(f[2])} "
                f"AND {_expr_sql(f[3])})")
    if k == "isnull":
        return f"({_expr_sql(f[1])} IS {'NOT ' if f[2] else ''}NULL)"
    if k == "predfn":
        return _predfn_sql(f[1], f[2], x_col, y_col)
    if k == "opred":
        return f"({_opred_sql(f[1], f[2], f[3])})"
    raise GWQLParseException(f"unrenderable filter {k}")


def compile_filter(f: tuple | None, x_col: str = "x_u", y_col: str = "y_u") -> CQLPlan:
    """Filter AST → CQLPlan: the OptimalCQLQuery constraint/residual
    split, from the AST (no text re-splitting). Top-level AND conjuncts
    that match the sargable shapes become index constraints; everything
    else renders to residual Catalyst SQL. A top-level OR/NOT keeps the
    whole filter residual — the same degradation OptimalCQLQuery
    applies when constraints cannot be derived."""
    plan = CQLPlan()
    if f is None:
        return plan

    def conjuncts(node):
        if node[0] == "and":
            yield from conjuncts(node[1])
            yield from conjuncts(node[2])
        else:
            yield node

    for c in conjuncts(f):
        if c[0] == "predfn":
            name, args = c[1], c[2]
            if name == "BBOX" and plan.bbox is None and len(args) == 5:
                _as_col(args[0], "BBOX")
                plan.bbox = tuple(int(_as_num(a, "BBOX")) for a in args[1:])
                continue
            if name == "BBOXLOOSE" and plan.bbox is None and len(args) in (5, 6):
                plan.bbox = _loose_bbox(args)
                continue
            if name in ("INTERSECTS", "WITHIN") and plan.geometry is None:
                if len(args) != 2:
                    raise GWQLParseException(f"{name} takes (column, geometry)")
                plan.geometry = wkb_loads(geom_from_wkt(_as_wkt(args[1], name)))
                plan.geom_predicate = name.lower()
                continue
            if (
                name in ("DWITHIN", "BEYOND")
                and plan.dwithin is None
                and plan.dwithin_geo is None
            ):
                pm = _POINT_RE.match(_as_wkt(args[1], name))
                if pm is not None and len(args) in (3, 4):
                    scale = _dwithin_units(args, name)
                    if scale is not None:
                        # units token → great-circle meters (same
                        # geodesic plan field as the ECQL side)
                        plan.dwithin_geo = (
                            int(pm.group(1)), int(pm.group(2)),
                            float(_as_num(args[2], name)) * scale,
                            name == "DWITHIN",
                        )
                    else:
                        plan.dwithin = (
                            int(pm.group(1)), int(pm.group(2)),
                            int(_as_num(args[2], name)), name == "DWITHIN",
                        )
                    continue
        if c[0] == "opred" and c[1] == "DURING" and c[2][0] == "col" \
                and plan.time is None:
            lo, hi = _temporal_literal(c[3])
            if hi is not None:
                plan.time_col = c[2][1]
                plan.time = (lo, hi)
                continue
        plan.residual.append(_filter_sql(c, x_col, y_col))
    return plan


# ------------------------------------------------------------ execution


def _agg_column(sel: Selector, x_col: str, y_col: str):
    fn, arg = sel.agg_fn, sel.agg_arg
    if fn == "COUNT":
        c = F.count("*") if arg == "*" else F.count(F.col(arg))
    elif fn in ("SUM", "MIN", "MAX"):
        if arg == "*":
            raise GWQLParseException(f"{fn}(*) is not valid (column required)")
        c = getattr(F, fn.lower())(F.col(arg))
    elif fn == "BBOX":
        # BboxFunction → VectorBoundingBoxAggregation: the envelope of
        # the geometry column (Envelope result → one struct column).
        # The engine binds exactly one geometry per type (the x_col/
        # y_col pair, pseudo-column "geom"), so any OTHER column name
        # here would silently aggregate the wrong geometry — reject it
        # (BboxFunction.java validates its argument is a geometry field)
        if arg not in ("*", "geom"):
            raise GWQLParseException(
                f"BBOX({arg}) aggregates an unbound geometry column; the "
                "bound geometry pseudo-column is 'geom' (or use BBOX(*))"
            )
        c = F.struct(
            F.min(x_col).alias("minx"), F.min(y_col).alias("miny"),
            F.max(x_col).alias("maxx"), F.max(y_col).alias("maxy"),
        )
    else:  # pragma: no cover - guarded at parse time
        raise GWQLParseException(f"unknown aggregation function {fn}")
    return c.alias(sel.name)


def _stats_select(
    store, stmt: GWQLStatement, x_col: str = "x_u", y_col: str = "y_u"
) -> DataFrame | None:
    """Statistics-answered aggregation (BaseDataStore.aggregate
    consulting the statistics store first — CountStatistic /
    FieldMinMax / BoundingBoxStatistic, core/store/.../statistics/):
    an unfiltered SELECT of only stats-covered aggregates on a
    snapshot-backed type is answered from TABLE METADATA — the
    manifest's folded footer stats — with no data scan. At 100 TB
    `SELECT COUNT(*)` becomes a metadata read instead of a full scan,
    exactly why the reference maintains statistics transactionally.

    Soundness gates (any miss returns None → normal scan path):
    - no WHERE (or INCLUDE): footer stats describe whole files only;
    - no pending merge-on-read deletes (`mor_pending` — footer counts
      would overcount until an overwrite retires them);
    - COUNT(*) only (COUNT(col) needs null counts footers don't carry);
    - MIN/MAX only on NUMERIC columns with complete stats — parquet
      writers may TRUNCATE binary (string) min/max statistics, so a
      string answered from footers could be wrong; numeric stats are
      exact by spec;
    - BBOX needs complete stats on both bound coordinate columns.
    Results are cast to the scan path's exact dtypes (same schema as
    `execute`), so callers cannot tell which path answered — except by
    the absence of a scan job."""
    t = getattr(store, "_ice", {}).get(stmt.table)
    if t is None or stmt.kind != "select":
        return None
    if stmt.where is not None and stmt.where != ("include",):
        return None
    sels = stmt.selectors
    if not sels or any(s.agg_fn is None for s in sels):
        return None
    ms = t.merged_column_stats()
    if ms.get("mor_pending"):
        return None
    df = store._types[stmt.table]
    numeric = {
        f.name: f.dataType
        for f in df.schema.fields
        if f.dataType.typeName()
        in ("byte", "short", "integer", "long", "float", "double", "decimal")
    }
    cols = []
    for s in sels:
        fn, arg = s.agg_fn, s.agg_arg
        if fn == "COUNT" and arg == "*":
            cols.append(F.lit(int(ms["n_rows"])).cast("long").alias(s.name))
        elif fn in ("MIN", "MAX") and arg in ms["cols"] and arg in numeric:
            v = ms["cols"][arg][0 if fn == "MIN" else 1]
            cols.append(F.lit(v).cast(numeric[arg]).alias(s.name))
        elif fn == "BBOX" and {x_col, y_col} <= set(ms["cols"]):
            if arg not in ("*", "geom"):
                return None  # unbound geometry: let _agg_column raise
            xs, ys = ms["cols"][x_col], ms["cols"][y_col]
            if x_col not in numeric or y_col not in numeric:
                return None
            cols.append(
                F.struct(
                    F.lit(xs[0]).cast(numeric[x_col]).alias("minx"),
                    F.lit(ys[0]).cast(numeric[y_col]).alias("miny"),
                    F.lit(xs[1]).cast(numeric[x_col]).alias("maxx"),
                    F.lit(ys[1]).cast(numeric[y_col]).alias("maxy"),
                ).alias(s.name)
            )
        else:
            return None
    out = df.sparkSession.range(1).select(*cols)
    if stmt.limit is not None:
        out = out.limit(stmt.limit)
    return out


def execute(
    df: DataFrame,
    stmt: GWQLStatement,
    x_col: str = "x_u",
    y_col: str = "y_u",
) -> DataFrame:
    """SelectStatement.execute analog over a bound DataFrame."""
    plan = compile_filter(stmt.where, x_col=x_col, y_col=y_col)
    out = apply_plan(df, plan, x_col=x_col, y_col=y_col)
    if stmt.selectors:
        if stmt.selectors[0].agg_fn is not None:
            out = out.agg(*[_agg_column(s, x_col, y_col) for s in stmt.selectors])
        else:
            out = out.select(
                *[F.col(s.column).alias(s.name) for s in stmt.selectors]
            )
    if stmt.limit is not None:
        out = out.limit(stmt.limit)
    return out


def gwql(store, statement: str) -> DataFrame | int:
    """Statement entry point (GWQLParser.parseStatement +
    Statement.execute): SELECT returns a DataFrame; DELETE removes the
    matching rows from the registered type and returns the count."""
    stmt = parse_statement(statement)
    if stmt.table not in store._types:
        raise GWQLParseException(f"No type named {stmt.table}")
    if stmt.kind == "delete":
        if stmt.table in getattr(store, "_ice", {}):
            # snapshot-store-backed type: route through the store's
            # copy-on-write delete (durable, file-skipping) instead of
            # the in-memory anti-join
            return store._delete_snapshot(stmt.table, stmt)
        matched = execute(store._types[stmt.table], stmt)
        return store._delete_matched(stmt.table, matched)
    # snapshot-backed types answer stats-covered aggregations from
    # metadata (BaseDataStore consults the statistics store first)
    stat = _stats_select(store, stmt)
    if stat is not None:
        return stat
    if stmt.table in getattr(store, "_ice", {}):
        # snapshot-backed types read the CURRENT snapshot (the
        # add_snapshot_type contract): refresh the registered frame
        # before a row scan, otherwise a commit made after
        # registration (stream ingest, a direct commit_write) would be
        # visible to the metadata-answered stats path above but NOT to
        # the scan of the frame frozen at registration. Done here —
        # after the stats path declines — so stats-covered answers
        # stay purely metadata (constructing the frame resolves
        # parquet schemas, which the no-scan contract must not do).
        store._frame(stmt.table)
    return execute(store._types[stmt.table], stmt)
