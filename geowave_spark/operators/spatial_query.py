"""Range / polygon queries over an indexed point table.

Lifecycle mirrors the reference's constraint pipeline
(BaseConstraintsQuery, core/store/.../base/BaseConstraintsQuery.java:52-133):

  constraint geometry → SFC range decomposition (coarse, superset)
  → scan with pushed-down range filter → exact refinement → dedupe

In Spark terms: the coarse constraint is a native Column predicate
(Catalyst pushes it into the parquet/Iceberg scan; with a materialized,
sorted ``cell`` column it becomes row-group/file pruning), and exact
refinement is either a native comparison (bbox) or an Arrow-batched
pandas UDF running the vectorized ray cast (polygon).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geowave_spark.geom.predicates import points_pred_batch
from geowave_spark.geom.udfs import parse_cached
from geowave_spark.geom.wkb import Geometry, wkb_dumps
from geowave_spark.index.native import cell_col
from geowave_spark.index.zorder import bbox_ranges


def cell_range_predicate(cell: Column, ranges) -> Column:
    """OR-of-BETWEENs over decomposed SFC ranges — the scan-side coarse
    constraint (QueryRanges analog). Prunable by Catalyst min/max stats
    when the table is laid out sorted by ``cell``."""
    pred = None
    for lo, hi in ranges:
        p = cell.between(int(lo), int(hi))
        pred = p if pred is None else pred | p
    return pred if pred is not None else F.lit(False)


def bbox_query(
    points: DataFrame,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    x_col: str = "x_u",
    y_col: str = "y_u",
    cell_col_name: str | None = None,
    res: int | None = None,
) -> DataFrame:
    """Axis-aligned range query (ExplicitSpatialQuery bbox path).

    Exact refinement is a pair of native BETWEENs; if the table carries a
    materialized cell column, the decomposed SFC ranges are added as a
    redundant coarse predicate so the scan prunes on the index layout.
    """
    out = points
    if cell_col_name is not None and res is not None:
        ranges = bbox_ranges(int(x_lo), int(y_lo), int(x_hi), int(y_hi), res)
        out = out.where(cell_range_predicate(F.col(cell_col_name), ranges))
    return out.where(
        F.col(x_col).between(int(x_lo), int(x_hi))
        & F.col(y_col).between(int(y_lo), int(y_hi))
    )


def loose_bounds(lo: int, hi: int, res: int) -> tuple[int, int]:
    """Inclusive µdeg preimage of the grid interval
    [grid(lo), grid(hi)] at ``res`` — exact, honoring the domain-edge
    clamp (the first/last cell absorb everything beyond the domain).
    The single source of truth for BBOXLOOSE widening (W is not
    divisible by 2^res beyond res 9, so the bound is ceil-div, not
    floor-div)."""
    from geowave_spark import LON_OFF_U, WORLD_X_U
    from geowave_spark.index.zorder import grid_coord

    n = 1 << res
    g_lo, g_hi = int(grid_coord(lo, res)), int(grid_coord(hi, res))

    def ceil_div(a: int, b: int) -> int:
        return -((-a) // b)

    # grid(x) == g  ⟺  ceil(g*W/n) ≤ x+OFF ≤ ceil((g+1)*W/n) - 1
    b_lo = -(1 << 62) if g_lo == 0 else ceil_div(g_lo * WORLD_X_U, n) - LON_OFF_U
    b_hi = (
        (1 << 62)
        if g_hi == n - 1
        else ceil_div((g_hi + 1) * WORLD_X_U, n) - 1 - LON_OFF_U
    )
    return b_lo, b_hi


def bbox_query_loose(
    points: DataFrame,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    res: int,
    x_col: str = "x_u",
    y_col: str = "y_u",
) -> DataFrame:
    """LOOSE bbox query: the coarse index constraint ONLY, no exact
    refinement — BBOXLOOSE / INTERSECTSLOOSE semantics
    (core/geotime/.../gwql/SpatialPredicates.java:22-250: "loose" skips
    the exact-refine stage and returns everything whose index cell
    matches). Result = all rows whose grid cell at ``res`` falls inside
    the query's cell range, i.e. the bbox widened OUTWARD to cell
    boundaries. The widened bounds are computed driver-side and emitted
    as plain BETWEENs on the raw coordinate columns — genuinely
    sargable (parquet row-group / partition pruning applies), unlike a
    predicate on derived grid-coord expressions which Spark cannot push
    to the source."""
    bx_lo, bx_hi = loose_bounds(int(x_lo), int(x_hi), res)
    by_lo, by_hi = loose_bounds(int(y_lo), int(y_hi), res)
    return points.where(
        F.col(x_col).between(bx_lo, bx_hi) & F.col(y_col).between(by_lo, by_hi)
    )


def dateline_split(x_lo: int, x_hi: int) -> list[tuple[int, int]]:
    """Normalize an x-range that crosses the antimeridian into 1-2
    in-domain ranges — the LongitudeDefinition bin split
    (core/geotime/.../index/dimension/LongitudeDefinition.java:41-68:
    a constraint spanning ±180 is decomposed into [x_lo, 180] and
    [-180, x_hi] bins before SFC range decomposition)."""
    from geowave_spark import LON_OFF_U

    if x_lo <= x_hi:
        return [(x_lo, x_hi)]
    return [(x_lo, LON_OFF_U), (-LON_OFF_U, x_hi)]


def bbox_query_dateline(
    points: DataFrame,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    x_col: str = "x_u",
    y_col: str = "y_u",
    cell_col_name: str | None = None,
    res: int | None = None,
) -> DataFrame:
    """bbox query where ``x_lo > x_hi`` means the box crosses the
    antimeridian: the OR of the split sub-ranges (each sub-range still
    sargable/prunable on its own)."""
    parts = dateline_split(int(x_lo), int(x_hi))
    if len(parts) == 1:
        return bbox_query(points, x_lo, y_lo, x_hi, y_hi, x_col, y_col, cell_col_name, res)
    pred = None
    for lo, hi in parts:
        p = F.col(x_col).between(lo, hi)
        pred = p if pred is None else pred | p
    return points.where(
        pred & F.col(y_col).between(int(y_lo), int(y_hi))
    )


def polygon_refine_udf(
    geom_wkb: bytes,
    x_col: str = "x_u",
    y_col: str = "y_u",
    predicate: str = "intersects",
):
    """Arrow-batched exact refinement (the SpatialQueryFilter accept,
    SpatialQueryFilter.java:254-297, as a vectorized ray cast instead
    of per-row JTS). ``predicate`` selects the CompareOperation:
    intersects/covers are boundary-inclusive, within/contains strict,
    touches boundary-only (predicates.points_pred_batch kernels). The
    geometry is parsed once per worker (``udfs.parse_cached``), not once
    per Arrow batch."""

    @F.pandas_udf("boolean")
    def _pip(xs: pd.Series, ys: pd.Series) -> pd.Series:
        mask = points_pred_batch(
            predicate,
            parse_cached(geom_wkb),
            xs.to_numpy(dtype="float64"),
            ys.to_numpy(dtype="float64"),
        )
        return pd.Series(mask)

    return _pip(F.col(x_col), F.col(y_col))


def polygon_query(
    points: DataFrame,
    geom: Geometry,
    x_col: str = "x_u",
    y_col: str = "y_u",
    cell_col_name: str | None = None,
    res: int | None = None,
    scale: int = 1,
    predicate: str = "intersects",
) -> DataFrame:
    """Polygon containment query: coarse bbox/SFC constraint + exact
    vectorized refinement. ``scale`` converts geometry units to the
    micro-degree columns (pass 1 if the geometry is already in µdeg).
    ``predicate``: any point-applicable CompareOperation — 'within'
    excludes boundary points (JTS strict), default 'intersects'."""
    x0, y0, x1, y1 = geom.bounds
    coarse = points.where(
        F.col(x_col).between(int(x0 * scale) - 1, int(x1 * scale) + 1)
        & F.col(y_col).between(int(y0 * scale) - 1, int(y1 * scale) + 1)
    )
    if cell_col_name is not None and res is not None:
        ranges = bbox_ranges(
            int(x0 * scale), int(y0 * scale), int(x1 * scale), int(y1 * scale), res
        )
        coarse = coarse.where(cell_range_predicate(F.col(cell_col_name), ranges))
    if scale != 1:
        scaled = Geometry(geom.gtype, [p * scale for p in geom.parts], geom.poly_ring_counts)
    else:
        scaled = geom
    return coarse.where(
        polygon_refine_udf(wkb_dumps(scaled), x_col, y_col, predicate)
    )


def with_cell(df: DataFrame, res: int, x_col: str = "x_u", y_col: str = "y_u") -> DataFrame:
    """Materialize the index cell column (insertion-id computation) —
    pure JVM bit arithmetic, no Python."""
    return df.withColumn("cell", cell_col(F.col(x_col), F.col(y_col), res))


def subsample_at_resolution(
    points: DataFrame,
    res: int,
    key_col: str = "event_id",
    x_col: str = "x_u",
    y_col: str = "y_u",
) -> DataFrame:
    """Fixed-resolution subsampling — one representative feature per
    occupied grid cell at ``res`` bits per dimension.

    The reference exposes this as the
    MAX_RESOLUTION_SUBSAMPLING_PER_DIMENSION scan hint
    (core/store/.../util/DataStoreUtils.java:106,
    .../query/filter/FixedResolutionSubsampleQueryFilter.java), wired
    from WMS pixel size by the geowave:Subsample render transform
    (extensions/adapters/vector/.../plugin/SubsampleProcess.java):
    during a key-ordered scan, rows whose SFC key truncates to the
    previous row's fixed-resolution prefix are skipped, keeping the
    FIRST feature per cell. The Spark-first restatement: group by the
    per-dimension grid coords and keep min(key) — on the engine's
    key-sorted stored layouts min(key) IS the first row the reference
    scan would keep, and the groupBy is one map-side-combined shuffle
    of (gx, gy, key) triples (no payload movement; join the result
    back by key to hydrate attributes). Deterministic for any input
    partitioning, unlike scan order.
    """
    from geowave_spark.index.native import grid_coord_col

    return points.groupBy(
        grid_coord_col(F.col(x_col), res).alias("gx"),
        grid_coord_col(F.col(y_col), res).alias("gy"),
    ).agg(F.min(key_col).alias(key_col))
