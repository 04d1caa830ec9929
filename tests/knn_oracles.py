"""Brute-force kNN oracles: the query set cross-joined with every
point and ranked by (distance, key). They check the engine's kNN
ladders (operators/knn.py, operators/geodesic.py); the engine never
calls them."""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geowave_spark.operators.geodesic import haversine_m


def _query_frame(spark: SparkSession, queries) -> DataFrame:
    return F.broadcast(
        spark.createDataFrame(
            [(int(q), int(x), int(y)) for q, x, y in queries],
            "query_id long, qx long, qy long",
        )
    )


def knn_brute(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],
    k: int,
    point_key: str = "event_id",
) -> DataFrame:
    """(query_id, point_key, dist2, rank) under the planar µdeg metric."""
    dx = F.col("x_u") - F.col("qx")
    dy = F.col("y_u") - F.col("qy")
    w = Window.partitionBy("query_id").orderBy("dist2", point_key)
    return (
        points.crossJoin(_query_frame(spark, queries))
        .withColumn("dist2", dx * dx + dy * dy)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", point_key, "dist2", "rank")
    )


def knn_geodesic_brute(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],
    k: int,
    point_key: str = "event_id",
) -> DataFrame:
    """(query_id, point_key, rank) under the haversine metric."""
    hav = haversine_m(F.col("qx"), F.col("qy"), F.col("x_u"), F.col("y_u"))
    w = Window.partitionBy("query_id").orderBy("hav_m", point_key)
    return (
        points.crossJoin(_query_frame(spark, queries))
        .withColumn("hav_m", hav)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", point_key, "rank")
    )
