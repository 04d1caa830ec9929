"""Within-distance join ("GeomWithinDistance" semantics).

Reference: a distance predicate joins by buffering the probe side's
envelope by the radius before index keying, then refining with the
exact distance (SqlQueryRunner.java:214-245;
udf/GeomWithinDistance.java:13-45 — bufferAmount = radius applied to
the non-build side only, TieredSpatialJoin.java:146,413-419).

Engine: the right point-set is expanded to radius boxes (native) and
keyed like any box, then run through the extent × point join skeleton
(operators/spatial_join.extent_point_join: one packed-key broadcast
equi-join) with the exact integer squared distance as the refine — the
whole plan is JVM-side, no shuffle."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.operators.spatial_join import boxes_with_cells, extent_point_join


def point_distance_join(
    left_points: DataFrame,
    right_points: DataFrame,
    radius_u: int,
    left_key: str = "event_id",
    right_key: str = "c_custkey",
    negative: bool = False,
) -> DataFrame:
    """Pairs (left_key, right_key, dist2) with planar distance ≤ radius.

    ``negative=True`` returns left rows farther than radius from every
    right point (the `> r` anti form, SqlQueryRunner.java:214-245)."""
    r = int(radius_u)
    right_boxed = right_points.select(
        F.col(right_key),
        F.col("x_u").alias("rx"),
        F.col("y_u").alias("ry"),
        (F.col("x_u") - r).alias("x_lo"),
        (F.col("y_u") - r).alias("y_lo"),
        (F.col("x_u") + r).alias("x_hi"),
        (F.col("y_u") + r).alias("y_hi"),
    )
    dx = F.col("x_u") - F.col("rx")
    dy = F.col("y_u") - F.col("ry")
    dist2 = dx * dx + dy * dy
    return extent_point_join(
        left_points,
        boxes_with_cells(right_boxed),
        dist2 <= F.lit(r * r),
        "leftanti" if negative else "inner",
        point_key=left_key,
        extent_key=[right_key, dist2.alias("dist2")],
    )
