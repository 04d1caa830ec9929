"""Spatial binned aggregation.

BinningAggregation parity (core/store/.../aggregate/BinningAggregation.java:36;
spatial binning by cell at a precision, SpatialBinningType.java:15-16):
``groupBy(cell) .agg(...)`` with the cell computed natively. Also the
bbox aggregation (core/geotime/.../aggregate/BoundingBoxAggregation.java).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.index.native import grid_coord_col
from geowave_spark import LAT_OFF_U, LON_OFF_U


def bin_by_cell(points: DataFrame, res: int, aggs: list) -> DataFrame:
    """Spatial binning: group by grid cell at ``res``. Emits (gx, gy) so
    results stay engine-portable (Morton id = interleave(gx, gy))."""
    df = points.withColumn("gx", grid_coord_col(F.col("x_u"), res, LON_OFF_U)).withColumn(
        "gy", grid_coord_col(F.col("y_u"), res, LAT_OFF_U)
    )
    return df.groupBy("gx", "gy").agg(*aggs)


def bbox_agg(points: DataFrame) -> DataFrame:
    """BoundingBoxAggregation: envelope of the dataset (exact ints)."""
    return points.agg(
        F.min("x_u").alias("x_min"),
        F.max("x_u").alias("x_max"),
        F.min("y_u").alias("y_min"),
        F.max("y_u").alias("y_max"),
    )
