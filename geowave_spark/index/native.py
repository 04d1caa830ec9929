"""Native Spark column expressions for SFC cell assignment.

The executor hot path of cell assignment is pure JVM bitwise arithmetic
(whole-stage codegen, zero Python) — this replaces the reference's
per-row Java ``ZOrderSFC.getId`` / ``HilbertSFC.getId`` calls
(core/index/src/main/java/org/locationtech/geowave/core/index/sfc/zorder/ZOrderSFC.java)
with Catalyst expressions. For 100 TB inputs this keeps the indexing
stage at parquet-scan speed instead of Arrow round-trip speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U

_M1 = 0x5555555555555555
_M2 = 0x3333333333333333
_M4 = 0x0F0F0F0F0F0F0F0F
_M8 = 0x00FF00FF00FF00FF
_M16 = 0x0000FFFF0000FFFF
_M32 = 0x00000000FFFFFFFF


def _spread_col(c: Column) -> Column:
    # Morton interleave, for STORAGE ORDER only: stored cell keys and
    # range decomposition (cell_col, cell_col_crs) need the Z-order
    # locality. Equality keys never need it: the extent × point joins
    # (operators/spatial_join.extent_point_join), nn_join, knn_join
    # and geom_join key on packed ids instead (_packed_cell).
    # PITFALL: each level references its input TWICE, so the expression
    # tree holds 2^6 = 64 inlined copies of whatever ``c`` is. With a
    # plain column input that's harmless (codegen CSE / cheap reads),
    # but feeding a COMPUTED expression makes Filter conditions blow
    # past the codegen method limit and fall back to per-reference
    # interpreted evaluation (measured 118 s vs 1 s on a 20M-row
    # filter).
    c = c.bitwiseAND(F.lit(_M32))
    c = (c.bitwiseOR(F.shiftleft(c, 16))).bitwiseAND(F.lit(_M16))
    c = (c.bitwiseOR(F.shiftleft(c, 8))).bitwiseAND(F.lit(_M8))
    c = (c.bitwiseOR(F.shiftleft(c, 4))).bitwiseAND(F.lit(_M4))
    c = (c.bitwiseOR(F.shiftleft(c, 2))).bitwiseAND(F.lit(_M2))
    c = (c.bitwiseOR(F.shiftleft(c, 1))).bitwiseAND(F.lit(_M1))
    return c


def grid_coord_col(x_u: Column, res: int, off: int = LON_OFF_U) -> Column:
    """Micro-degree BIGINT -> grid coord at ``res`` bits; exact integer
    arithmetic identical to zorder.grid_coord and the DuckDB oracle SQL.

    Delegates to the CRS-parameterized canonical form — EPSG:4326 µ° is
    the (lo=−off, span=WORLD_X_U) specialization — so the overflow-
    sensitive integer grid math (float floor() mis-assigns for res ≥ 24)
    lives in ONE place, index/crs.py, for both index families."""
    from geowave_spark.index.crs import grid_coord_col_crs

    return grid_coord_col_crs(x_u, res, -off, WORLD_X_U)


def cell_col(x_u: Column, y_u: Column, res: int) -> Column:
    """Morton cell id at ``res`` from micro-degree columns — pure JVM."""
    gx = grid_coord_col(x_u, res, LON_OFF_U)
    gy = grid_coord_col(y_u, res, LAT_OFF_U)
    return _spread_col(gx).bitwiseOR(F.shiftleft(_spread_col(gy), 1))


def _packed_cell(gx: Column, gy: Column) -> Column:
    """Packed ``(gx << 32) | gy`` cell id from grid coords (< 2^31): the
    equality key of the engine's equi-joins — a bijective id with no
    ordering, and none of the Morton spread's expression blowup."""
    return F.shiftleft(gx, 32).bitwiseOR(gy)


def grid_coord_sql(expr: str, res: int, off: int = LON_OFF_U) -> str:
    """The same grid-coord computation as ANSI SQL text (DuckDB oracle)
    — the 4326 specialization of grid_coord_sql_crs (one canonical
    formula; see grid_coord_col)."""
    from geowave_spark.index.crs import grid_coord_sql_crs

    return grid_coord_sql_crs(expr, res, -off, WORLD_X_U)
