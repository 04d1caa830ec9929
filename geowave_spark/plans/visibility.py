"""Row/field visibility expressions + query authorizations.

The reference attaches a VISIBILITY EXPRESSION to every stored value
and filters reads by the query's authorization set
(/root/reference/core/store/src/main/java/org/locationtech/geowave/core/store/data/visibility/VisibilityExpression.java):
tokens are authorization strings combined with ``&`` / ``|`` and
parentheses, whitespace is stripped, the empty expression is visible
to everyone, and — load-bearing quirk — ``&`` and ``|`` have EQUAL
precedence and fold STRICTLY LEFT-ASSOCIATIVELY
(VisibilityExpression.parseTokens:76-120 builds And/Or nodes in token
order), so ``a|b&c`` means ``(a|b)&c``, not ``a|(b&c)``. Write-side
handlers supply the expression per row or per field
(GlobalVisibilityHandler, JsonFieldLevelVisibilityHandler —
data/visibility/*.java); the engine reads both forms as stored columns.

Spark-first shape — the key observation is that visibility
expressions are POLICY LABELS: their distinct cardinality is tiny and
independent of corpus size (a handful of classification markings over
billions of rows). So instead of evaluating the expression per row
(a per-row parse in the reference's iterator stack), the engine:

1. aggregates the DISTINCT expressions (map-side-combined agg over one
   short string column — safe at any corpus size, guarded by a loud
   cardinality cap),
2. evaluates each distinct expression against the authorization set
   ONCE, driver-side, and
3. filters with ``visibility IN (<satisfied expressions>)`` — a plain
   equality-class predicate that Catalyst pushes INTO the parquet scan
   (shows up in PushedFilters as In(visibility, ...)), so unauthorized
   rows never leave the reader. The reference can't push this — its
   expression evaluation sits above the KV iterator; the engine gets
   the pushdown for free by reducing authorization to set membership.

Field-level visibility follows the same distinct-value trick: the
JSON field→expression map column is distinct-aggregated, each
distinct JSON decides driver-side which fields it masks, and the
projection nulls a field with ``when(vis_col.isin(<masking values>),
None)`` — one codegen CASE per guarded field, no Python in the row
path.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "VisibilityParseError",
    "parse_visibility",
    "evaluate_visibility",
    "where_authorized",
    "mask_fields_json",
]


class VisibilityParseError(ValueError):
    """Malformed visibility expression (mirrors the reference's
    ParseException cases at VisibilityExpression.java:84-121)."""


# --- expression AST --------------------------------------------------

_TOKEN_RE = re.compile(r"[()&|]|[^()&|]+")


@dataclass(frozen=True)
class _Value:
    token: str

    def evaluate(self, auths: frozenset[str]) -> bool:
        return self.token in auths


@dataclass(frozen=True)
class _And:
    left: object
    right: object

    def evaluate(self, auths: frozenset[str]) -> bool:
        return self.left.evaluate(auths) and self.right.evaluate(auths)


@dataclass(frozen=True)
class _Or:
    left: object
    right: object

    def evaluate(self, auths: frozenset[str]) -> bool:
        return self.left.evaluate(auths) or self.right.evaluate(auths)


@dataclass(frozen=True)
class _NoAuth:
    """Empty expression — visible to every authorization set
    (VisibilityExpression.evaluate:54-57 returns true on empty)."""

    def evaluate(self, auths: frozenset[str]) -> bool:
        return True


def parse_visibility(expression: str):
    """Parse to an AST. Equal-precedence LEFT-ASSOCIATIVE fold over
    ``&``/``|`` with parenthesized groups — token-for-token the
    reference grammar (VisibilityExpression.parseTokens), not
    conventional boolean precedence.

    Parses are memoized on the whitespace-stripped expression, like
    the reference's expressionCache (VisibilityExpression.java:34-36,
    a size-50 LoadingCache keyed on the trimmed string) — visibility
    labels are policy-sized, so the same handful of expressions is
    parsed over and over. The AST is immutable (frozen dataclasses),
    so sharing cached nodes is safe."""
    text = re.sub(r"\s+", "", expression)
    if not text:
        return _NoAuth()
    return _parse_cached(text)


@lru_cache(maxsize=256)
def _parse_cached(text: str):
    tokens = _TOKEN_RE.findall(text)
    node, pos = _parse_run(tokens, 0, depth=0)
    if pos != len(tokens):
        raise VisibilityParseError(
            "Right parenthesis found with no matching left parenthesis."
        )
    return node


def _parse_run(tokens: list[str], i: int, depth: int):
    left = None
    operator: str | None = None
    while i < len(tokens):
        tok = tokens[i]
        new_node = None
        if tok == "(":
            new_node, i = _parse_run(tokens, i + 1, depth + 1)
            if i >= len(tokens) or tokens[i] != ")":
                raise VisibilityParseError(
                    "Left parenthesis found with no matching right parenthesis."
                )
            i += 1
        elif tok == ")":
            if depth == 0:
                raise VisibilityParseError(
                    "Right parenthesis found with no matching left parenthesis."
                )
            break
        elif tok in ("&", "|"):
            if left is None:
                raise VisibilityParseError("Operator found with no left operand.")
            if operator is not None:
                raise VisibilityParseError("Multiple sequential operators.")
            operator = tok
            i += 1
        else:
            new_node = _Value(tok)
            i += 1
        if new_node is not None:
            if left is None:
                left = new_node
            elif operator is None:
                raise VisibilityParseError(
                    "Multiple sequential operands with no operator."
                )
            elif operator == "&":
                left, operator = _And(left, new_node), None
            else:
                left, operator = _Or(left, new_node), None
    if left is None:
        return _NoAuth(), i
    if operator is not None:
        raise VisibilityParseError("Operator found with no right operand.")
    return left, i


def evaluate_visibility(expression: str | None, auths) -> bool:
    """True iff a row carrying ``expression`` is visible under the
    authorization set. None (no handler produced a visibility — the
    reference's UnconstrainedVisibilityHandler path) and the empty
    string are visible to all."""
    if expression is None:
        return True
    return parse_visibility(expression).evaluate(frozenset(auths))


# --- read-side filtering ---------------------------------------------

MAX_DISTINCT_VISIBILITIES = 10_000


def satisfied_expressions(
    df: DataFrame,
    auths,
    col: str = "visibility",
    max_distinct: int = MAX_DISTINCT_VISIBILITIES,
) -> list[str]:
    """Distinct visibility expressions in ``df[col]`` that the
    authorization set satisfies. The distinct agg is map-side combined
    and its result is POLICY-sized, not corpus-sized; the cap turns a
    mis-typed column (ids, free text) into a loud error instead of a
    driver OOM."""
    rows = (
        df.select(F.col(col).alias("_vis"))
        .where(F.col("_vis").isNotNull())
        .distinct()
        .limit(max_distinct + 1)
        .collect()
    )
    if len(rows) > max_distinct:
        raise ValueError(
            f"column {col!r} has more than {max_distinct} distinct visibility "
            "expressions — visibility labels are policy-sized; is this the "
            "right column?"
        )
    aset = frozenset(auths)
    return [r["_vis"] for r in rows if parse_visibility(r["_vis"]).evaluate(aset)]


def where_authorized(
    df: DataFrame,
    auths,
    col: str = "visibility",
    max_distinct: int = MAX_DISTINCT_VISIBILITIES,
) -> DataFrame:
    """Rows visible under ``auths``: NULL visibility passes
    (unconstrained), otherwise membership in the driver-evaluated
    satisfied set — an In() predicate Catalyst pushes into the scan."""
    ok = satisfied_expressions(df, auths, col, max_distinct)
    c = F.col(col)
    return df.where(c.isNull() | c.isin(ok))


# --- field-level masking ---------------------------------------------


def mask_fields_json(
    df: DataFrame,
    auths,
    vis_col: str = "field_visibility",
    fields: list[str] | None = None,
    max_distinct: int = MAX_DISTINCT_VISIBILITIES,
) -> DataFrame:
    """JsonFieldLevelVisibilityHandler semantics: ``vis_col`` holds a
    per-row JSON object mapping field names (or regex patterns that
    full-match field names — JsonFieldLevelVisibilityHandler.java:
    translateVisibility's fieldName.matches(attName) fallback) to
    visibility expressions; a field whose matched expression fails
    under ``auths`` is nulled for THAT row.

    Same distinct-value reduction as the row filter: the JSON column
    is policy-sized, so each distinct value decides its masked field
    set once driver-side, and each guarded field gets ONE codegen
    ``when(vis_col isin <masking values>, null)`` — no per-row JSON
    parse, no Python in the row path."""
    if fields is None:
        fields = [c for c in df.columns if c != vis_col]
    rows = (
        df.select(F.col(vis_col).alias("_vis"))
        .where(F.col("_vis").isNotNull())
        .distinct()
        .limit(max_distinct + 1)
        .collect()
    )
    if len(rows) > max_distinct:
        raise ValueError(
            f"column {vis_col!r} has more than {max_distinct} distinct "
            "field-visibility JSON values — policy-sized column expected"
        )
    aset = frozenset(auths)
    masking_values: dict[str, list[str]] = {f: [] for f in fields}
    for r in rows:
        raw = r["_vis"]
        try:
            vis_map = json.loads(raw)
        except (TypeError, ValueError):
            continue  # unparseable JSON constrains nothing (reference logs+skips)
        if not isinstance(vis_map, dict):
            continue
        for f_name in fields:
            expr = vis_map.get(f_name)
            if expr is None:
                for pattern, pat_expr in vis_map.items():
                    try:
                        if re.fullmatch(pattern, f_name):
                            expr = pat_expr
                            break
                    except re.error:
                        continue
            if expr is not None and not evaluate_visibility(str(expr), aset):
                masking_values[f_name].append(raw)
    out = df
    for f_name, vals in masking_values.items():
        if vals:
            out = out.withColumn(
                f_name,
                F.when(F.col(vis_col).isin(vals), F.lit(None)).otherwise(
                    F.col(f_name)
                ),
            )
    return out
