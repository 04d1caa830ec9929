"""Custom-CRS spatial indexing — the SpatialDimensionalityTypeProvider
``crs`` option (core/geotime/src/main/java/org/locationtech/geowave/core/
geotime/index/SpatialDimensionalityTypeProvider.java: the provider reads
the CoordinateReferenceSystem's coordinate-system axis ranges and builds
the SFC over THOSE bounds; CustomCRS ITs under /root/reference/test/
src/test/java/.../basic/ exercise a non-4326 store end-to-end).

The reference never reprojects data at index time — data arrives in its
CRS and the index simply spans that CRS's axis bounds. The engine's
equivalent: every grid/cell/range computation parameterized by a
``CRS`` (integer axis bounds in the dataset's storage units) instead of
the package-level EPSG:4326 micro-degree constants. EPSG:4326 becomes
the default instance; a projected CRS (e.g. web-mercator stored in
millimeters) is just different bounds — same exact integer arithmetic,
same DuckDB-oracle expressibility, same row-group pruning story.

No CRS *transform* engine ships here (no pyproj in the sandbox, and the
reference delegates transforms to GeoTools, outside index scope — see
SURVEY §2.12 design stance); what this module restores is the indexing
semantic: any planar integer CRS can back the SFC index.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geowave_spark.index.native import _spread_col
from geowave_spark.index.zorder import ranges_from_grid


@dataclass(frozen=True)
class CRS:
    """Integer axis bounds of a planar CRS in its storage units.

    ``x_hi``/``y_hi`` are inclusive domain edges (a coordinate exactly
    on the edge clamps into the last cell, same as the 4326 path)."""

    name: str
    x_lo: int
    x_hi: int
    y_lo: int
    y_hi: int

    @property
    def x_span(self) -> int:
        return self.x_hi - self.x_lo

    @property
    def y_span(self) -> int:
        return self.y_hi - self.y_lo


# web-mercator in integer millimeters: ±20037508.342789244 m, truncated
# to mm — the standard projected CRS of tile services (EPSG:3857)
WEB_MERCATOR_MM = CRS(
    "EPSG:3857 (millimeters)",
    -20_037_508_342, 20_037_508_342, -20_037_508_342, 20_037_508_342
)

# the ONE resolution shared by plans.store.crs_store (write-time keys)
# and crs_bbox_stored_query (scan-time ranges): a store built at one
# res queried at another silently drops matching rows (the coarse
# predicate filters at the wrong key scale before the exact refine) —
# same single-constant discipline as plans.store.HILBERT_RES
CRS_RES = 16


def grid_coord_col_crs(v: Column, res: int, lo: int, span: int) -> Column:
    """Value column → grid coordinate at ``res`` bits over [lo, lo+span]
    — exact 64-bit integer arithmetic (same overflow stance as
    native.grid_coord_col: float floor() would mis-assign for res ≥ 24)."""
    n = 1 << res
    g = F.call_function("div", (v.cast("long") - F.lit(lo)) * F.lit(n), F.lit(span))
    return F.least(F.greatest(g, F.lit(0)), F.lit(n - 1))


def grid_coord_expr_crs(col: str, res: int, lo: int, span: int) -> str:
    """Spark SQL text twin of grid_coord_col_crs over the column named
    ``col`` (the same exact ``div`` arithmetic), for keys built as one
    ``F.expr`` (operators/spatial_join)."""
    n = 1 << res
    g = f"((CAST({col} AS BIGINT) - ({lo})) * {n}) div {span}"
    return f"least(greatest({g}, 0), {n - 1})"


def cell_col_crs(x: Column, y: Column, res: int, crs: CRS) -> Column:
    """Morton cell id at ``res`` over the CRS's bounds — pure JVM."""
    gx = grid_coord_col_crs(x, res, crs.x_lo, crs.x_span)
    gy = grid_coord_col_crs(y, res, crs.y_lo, crs.y_span)
    return _spread_col(gx).bitwiseOR(F.shiftleft(_spread_col(gy), 1))


def grid_coord_crs(v, res: int, lo: int, span: int):
    """Driver/numpy twin of grid_coord_col_crs."""
    n = 1 << res
    if isinstance(v, np.ndarray):
        g = (v.astype(np.int64) - lo) * n // span
        return np.clip(g, 0, n - 1)
    g = (int(v) - lo) * n // span
    return min(max(g, 0), n - 1)


def grid_coord_sql_crs(expr: str, res: int, lo: int, span: int) -> str:
    """DuckDB oracle text twin."""
    n = 1 << res
    g = f"(({expr} - ({lo})) * {n}) // {span}"
    return f"least(greatest({g}, 0), {n - 1})"


def bbox_ranges_crs(
    crs: CRS,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    res: int,
    max_ranges: int = 64,
) -> tuple[tuple[int, int], ...]:
    """bbox → contiguous Morton ranges over the CRS grid (the quad-tree
    descent of zorder.bbox_ranges with the CRS value→grid transform)."""
    return ranges_from_grid(
        grid_coord_crs(x_lo, res, crs.x_lo, crs.x_span),
        grid_coord_crs(x_hi, res, crs.x_lo, crs.x_span),
        grid_coord_crs(y_lo, res, crs.y_lo, crs.y_span),
        grid_coord_crs(y_hi, res, crs.y_lo, crs.y_span),
        res,
        max_ranges,
    )


def crs_bbox_stored_query(
    stored: DataFrame,
    crs: CRS,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    res: int = CRS_RES,
    max_ranges: int = 8,
) -> DataFrame:
    """bbox query against a ``plans.store.crs_store`` table: the cell
    ranges hit the STORED sorted ``cell`` column (sargable BETWEENs →
    PushedFilters + row-group min/max pruning) instead of re-deriving
    the key expression per query — the same write-time/scan-time split
    as the Hilbert/XZ/ST stored paths."""
    return crs_bbox_query(
        stored, crs, x_lo, y_lo, x_hi, y_hi, res=res, max_ranges=max_ranges,
        cell_col_name="cell",
    )


def crs_bbox_query(
    points: DataFrame,
    crs: CRS,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    res: int = 16,
    max_ranges: int = 8,
    x_col: str = "x",
    y_col: str = "y",
    cell_col_name: str | None = None,
) -> DataFrame:
    """Range-scan query over a custom-CRS point table — the same stance
    as the 4326 path (operators/spatial_query.bbox_query): the coarse
    Morton cell-range constraint is applied ONLY against a STORED cell
    column (``cell_col_name``), where it is sargable (PushedFilters +
    row-group min/max pruning on the cell-sorted layout). Without a
    stored column the query is the exact native refinement alone:
    filtering on an inline-computed cell is pure overhead — it prunes
    nothing on an unsorted scan, and Catalyst collapses the projected
    cell back into the filter, inlining ~64 bit-spread copies per range
    bound past the 64 KB codegen method limit (interpreted fallback —
    the index/native._spread_col pitfall, measured here as an ERROR
    CodeGenerator + ~5× slower scan)."""
    out = points
    if cell_col_name is not None:
        from geowave_spark.operators.spatial_query import cell_range_predicate

        ranges = bbox_ranges_crs(crs, x_lo, y_lo, x_hi, y_hi, res, max_ranges)
        out = out.where(cell_range_predicate(F.col(cell_col_name), ranges))
    return out.where(
        F.col(x_col).between(x_lo, x_hi) & F.col(y_col).between(y_lo, y_hi)
    )

