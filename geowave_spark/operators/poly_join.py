"""Polygon ⋈ point spatial join (convex polygons, exact refinement).

The convex-polygon caller of the extent × point join skeleton
(operators/spatial_join.extent_point_join — TieredSpatialJoin semantics,
analytics/spark/.../spatial/TieredSpatialJoin.java:59-552):

  1. coarse index: the polygon's bbox is keyed exactly like a box —
     per-row resolution + ≤4 corner-cell keys (boxes_with_cells);
  2. candidates: the single packed-key equi-join against the re-keyed
     points;
  3. exact refinement: for a CCW convex polygon, containment is the AND
     of per-edge integer cross products — a native Column expression,
     so the refine stays in whole-stage codegen (the role JTS
     PreparedGeometry.intersects plays in SpatialQueryFilter.java:254-297).
     Non-convex geometries go through operators/geom_join.geom_point_join
     (same skeleton, polyfill keys, vectorized refine).

All arithmetic is BIGINT-exact in micro-degrees, which is what lets the
DuckDB oracle reproduce the join row-for-row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geowave_spark.operators.spatial_join import boxes_with_cells, extent_point_join


def convex_contains_pred(
    vertices: list[tuple[Column, Column]], x: Column, y: Column
) -> Column:
    """AND of per-edge cross products ≥ 0 for CCW vertices (boundary
    inclusive — JTS covers semantics)."""
    pred = None
    n = len(vertices)
    for i in range(n):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % n]
        c = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) >= 0
        pred = c if pred is None else pred & c
    return pred


def convex_contains_sql(vertices: list[tuple[str, str]], x: str, y: str) -> str:
    """DuckDB twin of convex_contains_pred (oracle text)."""
    conds = []
    n = len(vertices)
    for i in range(n):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % n]
        conds.append(
            f"(({x2} - {x1}) * ({y} - {y1}) - ({y2} - {y1}) * ({x} - {x1})) >= 0"
        )
    return " AND ".join(conds)


def octagon_point_join(
    points: DataFrame,
    octagons: DataFrame,
    point_key: str = "event_id",
    poly_key: str = "s_suppkey",
) -> DataFrame:
    """Join points (x_u, y_u) into octagons (cx, cy, r, a — see
    sources.testgeo.supplier_octagons). Output: matched key pairs."""
    from geowave_spark.sources.testgeo import octagon_vertices

    boxes = octagons.select(
        poly_key,
        "cx",
        "cy",
        "r",
        "a",
        (F.col("cx") - F.col("r")).alias("x_lo"),
        (F.col("cy") - F.col("r")).alias("y_lo"),
        (F.col("cx") + F.col("r")).alias("x_hi"),
        (F.col("cy") + F.col("r")).alias("y_hi"),
    )
    verts = octagon_vertices(F.col("cx"), F.col("cy"), F.col("r"), F.col("a"))
    refine = convex_contains_pred(verts, F.col("x_u"), F.col("y_u"))
    return extent_point_join(
        points, boxes_with_cells(boxes), refine, point_key=point_key, extent_key=poly_key
    )
