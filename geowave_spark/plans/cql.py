"""(E)CQL filter text → index-optimized query — the CQLQuery surface.

The reference accepts OGC (E)CQL filter text and compiles it into an
index-optimized query: ``CQLQuery`` / ``OptimalCQLQuery`` extract the
geometry and time constraints from the parsed filter to drive the
coarse index scan and leave every remaining predicate as an exact
post-filter (core/geotime/src/main/java/org/locationtech/geowave/core/
geotime/store/query/api/OptimalCQLQuery.java:86-210,
.../store/query/CQLQuery.java). This module performs the same
constraint/residual split over a deliberately small ECQL subset,
Spark-first: the spatial and temporal conjuncts become the engine's
coarse-constraint query path (bbox/polygon pushdown + exact vectorized
refine, operators/spatial_query.py) and every remaining conjunct —
ECQL comparison syntax is a subset of Spark SQL — becomes a residual
``F.expr`` filter that Catalyst pushes into the scan.

Supported grammar (a top-level AND of):

  ``BBOX(col, x0, y0, x1, y1)``                 µdeg integer coords
  ``INTERSECTS(col, <WKT polygon>)``            exact refine, boundary in
  ``WITHIN(col, <WKT polygon>)``                JTS-strict, boundary out
  ``DWITHIN(col, POINT(x y), dist[, units])``   bbox coarse + circle refine
  ``BEYOND(col, POINT(x y), dist[, units])``    complement (no coarse)
  ``col DURING <iso-instant>/<iso-instant>``    half-open [lo, hi)
  ``<any SQL-expressible predicate>``           residual post-filter

With units 'meters'/'kilometers' DWITHIN is great-circle: its coarse
box is ``operators/geodesic.geodesic_window`` (the containment argument
is stated there), split at ±180° like a wrapped BBOX.

A top-level ``OR`` disqualifies constraint extraction and the whole
filter runs as one residual predicate over the full scan — the same
degradation ``OptimalCQLQuery`` applies when it cannot derive
constraints from the filter. Unsupported *spatial* operators
(DISJOINT/CROSSES/... — pairwise geometry ops that need a join, not a
filter) raise rather than silently scanning.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.geom.udfs import geom_from_wkt
from geowave_spark.geom.wkb import wkb_loads
from geowave_spark.operators.geodesic import dwithin_geodesic_col, geodesic_window
from geowave_spark.operators.knn import planar_window
from geowave_spark.operators.spatial_query import bbox_query, bbox_query_dateline, polygon_query
from geowave_spark.plans.sql_rewrite import _mask, _split_conjuncts

# spatial ops the engine refines exactly (point-applicable subset)
_SPATIAL_OPS = {"INTERSECTS": "intersects", "WITHIN": "within"}
# distance ops (POINT reference geometry, planar µdeg distance)
_DISTANCE_OPS = {"DWITHIN": True, "BEYOND": False}
# recognized-but-unroutable spatial ops: fail loudly, never full-scan
_SPATIAL_RESERVED = {
    "DISJOINT",
    "CONTAINS",
    "CROSSES",
    "TOUCHES",
    "OVERLAPS",
    "EQUALS",
    "RELATE",
}

_POINT_RE = re.compile(
    r"^\s*POINT\s*\(\s*(-?\d+)\s+(-?\d+)\s*\)\s*$", re.I
)

_DURING_RE = re.compile(
    r"^\s*([A-Za-z_]\w*)\s+DURING\s+(\S+?)\s*/\s*(\S+)\s*$", re.I
)


@dataclass
class CQLPlan:
    """Extracted constraints + residual conjunct texts."""

    bbox: tuple[int, int, int, int] | None = None
    geometry: object | None = None  # geom.wkb.Geometry
    geom_predicate: str = "intersects"
    time: tuple[str, str] | None = None  # (lo, hi) SQL timestamp literals
    time_col: str = "ts"
    # (px, py, dist, within?) — DWITHIN/BEYOND against a POINT, planar units
    dwithin: tuple[int, int, int, bool] | None = None
    # (px, py, meters, within?) — DWITHIN/BEYOND with 'meters' units:
    # great-circle semantics (haversine refine + latitude-corrected
    # coarse bbox), the reference's OrthodromicDistancePartitioner
    # distance contract surfaced through ECQL units
    dwithin_geo: tuple[int, int, float, bool] | None = None
    residual: list[str] = field(default_factory=list)


def _call_args(text: str):
    """Parse ``NAME ( arg, arg, ... )`` spanning the WHOLE conjunct;
    args split at depth-1 commas only (WKT bodies keep their parens).
    Returns (NAME, [args]) or None."""
    m = re.match(r"\s*([A-Za-z_]\w*)\s*\(", text)
    if m is None:
        return None
    args, cur, depth = [], [], 0
    for j in range(m.end() - 1, len(text)):
        c = text[j]
        if c == "(":
            depth += 1
            if depth == 1:
                continue
        elif c == ")":
            depth -= 1
            if depth == 0:
                args.append("".join(cur).strip())
                if text[j + 1 :].strip():
                    return None  # trailing text → not a lone call
                return m.group(1).upper(), args
        elif c == "," and depth == 1:
            args.append("".join(cur).strip())
            cur = []
            continue
        cur.append(c)
    return None  # unbalanced


def _iso_to_sql(t: str) -> str:
    """``2024-01-05T00:00:00Z`` → ``2024-01-05 00:00:00`` (both Spark
    and DuckDB TIMESTAMP-literal syntax)."""
    t = t.strip().rstrip("Zz").replace("T", " ")
    if not re.match(r"^\d{4}-\d{2}-\d{2}( \d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$", t):
        raise ValueError(f"unsupported CQL instant: {t!r}")
    return t


def parse_cql(text: str) -> CQLPlan:
    """Split the filter at top-level ANDs and classify each conjunct.

    One bbox, one areal geometry and one DURING window are extracted
    (repeats stay residual-less illegal → ValueError, mirroring the
    reference's single-geometry constraint extraction); everything
    else lands in ``residual``."""
    plan = CQLPlan()
    conjuncts = _split_conjuncts(text)
    if conjuncts is None:  # top-level OR → whole filter residual
        return CQLPlan(residual=[text.strip()])
    for c in conjuncts:
        call = _call_args(c)
        if call is not None:
            name, args = call
            if name == "BBOX":
                if len(args) != 5:
                    raise ValueError(f"BBOX takes (col, x0, y0, x1, y1): {c!r}")
                if plan.bbox is not None:
                    raise ValueError("multiple BBOX constraints")
                plan.bbox = tuple(int(a) for a in args[1:])
                continue
            if name in _SPATIAL_OPS:
                if len(args) != 2:
                    raise ValueError(f"{name} takes (col, wkt): {c!r}")
                if plan.geometry is not None:
                    raise ValueError("multiple geometry constraints")
                plan.geometry = wkb_loads(geom_from_wkt(args[1]))
                plan.geom_predicate = _SPATIAL_OPS[name]
                continue
            if name in _DISTANCE_OPS:
                # ECQL: DWITHIN(col, geom, distance, units). Without a
                # units token, coordinates and distance are both planar
                # storage units (µdeg), like the engine's distance
                # joins. 'meters'/'kilometers' switch to GREAT-CIRCLE
                # semantics (the geodesic distance family,
                # operators/geodesic.py); other ECQL units raise loudly
                # rather than silently misinterpret a distance.
                if len(args) not in (3, 4):
                    raise ValueError(f"{name} takes (col, POINT, dist): {c!r}")
                pm = _POINT_RE.match(args[1])
                if pm is None:
                    raise ValueError(
                        f"{name} supports POINT references only: {args[1]!r}"
                    )
                if plan.dwithin is not None or plan.dwithin_geo is not None:
                    raise ValueError("multiple distance constraints")
                units = None
                if len(args) == 4:
                    units = args[3].strip().strip("'\"").lower()
                if units in (None, ""):
                    plan.dwithin = (
                        int(pm.group(1)),
                        int(pm.group(2)),
                        int(args[2]),
                        _DISTANCE_OPS[name],
                    )
                elif units in ("meters", "kilometers"):
                    scale = 1.0 if units == "meters" else 1000.0
                    plan.dwithin_geo = (
                        int(pm.group(1)),
                        int(pm.group(2)),
                        float(args[2]) * scale,
                        _DISTANCE_OPS[name],
                    )
                else:
                    raise ValueError(
                        f"unsupported {name} units {units!r} (supported: "
                        "meters, kilometers, or omit for planar µdeg)"
                    )
                continue
            if name in _SPATIAL_RESERVED:
                raise ValueError(f"unsupported CQL spatial operator: {name}")
        m = _DURING_RE.match(_mask(c)) and _DURING_RE.match(c)
        if m is not None:
            if plan.time is not None:
                raise ValueError("multiple DURING constraints")
            plan.time_col = m.group(1)
            plan.time = (_iso_to_sql(m.group(2)), _iso_to_sql(m.group(3)))
            continue
        plan.residual.append(c)
    return plan


def cql_filter(
    points: DataFrame,
    text: str,
    x_col: str = "x_u",
    y_col: str = "y_u",
) -> DataFrame:
    """Apply an ECQL filter to a point table through the index path.

    Constraint order mirrors OptimalCQLQuery: coarse spatial constraint
    first (sargable → parquet row-group pruning on stored layouts),
    exact geometry refine, temporal window, then residual predicates as
    one Catalyst expression."""
    return apply_plan(points, parse_cql(text), x_col=x_col, y_col=y_col)


def apply_plan(
    points: DataFrame,
    plan: CQLPlan,
    x_col: str = "x_u",
    y_col: str = "y_u",
) -> DataFrame:
    """Apply an extracted constraint/residual plan to a point table.

    Shared by the ECQL path above and the GWQL statement layer
    (plans/gwql.py) — both languages compile their WHERE clause to the
    same ``CQLPlan`` so the index-optimized application can never
    diverge between the two surfaces."""
    df = points
    if plan.bbox is not None:
        x0, y0, x1, y1 = plan.bbox
        # dateline-aware: x0 > x1 means the box crosses ±180° and must
        # split into two sargable sub-ranges (DataStore.query already
        # did this; the ECQL/GWQL constraint path silently returned
        # zero rows for a wrapped box)
        df = bbox_query_dateline(df, x0, y0, x1, y1, x_col=x_col, y_col=y_col)
    if plan.geometry is not None:
        df = polygon_query(
            df, plan.geometry, x_col=x_col, y_col=y_col,
            predicate=plan.geom_predicate,
        )
    if plan.dwithin is not None:
        px, py, dist, within = plan.dwithin
        # integer multiply, NOT **: Column.__pow__ is double-valued and
        # squared µdeg deltas (≤3.3e16) exceed double's 2^53 exact range
        dx = F.col(x_col).cast("long") - F.lit(px)
        dy = F.col(y_col).cast("long") - F.lit(py)
        d2 = dx * dx + dy * dy
        if within:
            # sargable bbox coarse constraint first (DistanceQuery
            # stance, operators/distance_join.py), exact circle refine
            df = bbox_query(
                df, *planar_window(px, py, dist), x_col=x_col, y_col=y_col
            ).where(d2 <= F.lit(int(dist) ** 2))
        else:  # BEYOND — complement, no coarse constraint possible
            df = df.where(d2 > F.lit(int(dist) ** 2))
    if plan.dwithin_geo is not None:
        px, py, radius_m, within = plan.dwithin_geo
        refine = dwithin_geodesic_col(
            F.lit(px), F.lit(py), F.col(x_col), F.col(y_col), radius_m
        )
        if within:
            # sargable coarse bbox first: the latitude-corrected window
            # holding every point within the radius (wraps at ±180°)
            df = bbox_query_dateline(
                df, *geodesic_window(px, py, radius_m), x_col=x_col, y_col=y_col
            ).where(refine)
        else:  # BEYOND — complement, refine only
            df = df.where(~refine)
    if plan.time is not None:
        lo, hi = plan.time
        tc = F.col(plan.time_col)
        df = df.where(
            (tc >= F.lit(lo).cast("timestamp")) & (tc < F.lit(hi).cast("timestamp"))
        )
    for r in plan.residual:
        df = df.where(F.expr(r))
    return df
