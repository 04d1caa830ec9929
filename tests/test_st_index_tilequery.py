"""Spatial-temporal composite key + tile-table range query."""

from __future__ import annotations

from pyspark.sql import functions as F

from geowave_spark.index.native import cell_col
from geowave_spark.plans.store import ST_RES, st_store
from geowave_spark.operators.tiling import (
    box_tile_cover,
    tile_range_query,
)
from geowave_spark.sources.testgeo import customer_boxes


def test_st_cell_composite_layout(spark, sf_dir):
    """The stored spatial-temporal key is (DAY bin << 2·res) | xy cell."""
    import datetime

    df = st_store(spark, sf_dir).select(
        "ts",
        "st_cell",
        cell_col(F.col("x_u"), F.col("y_u"), ST_RES).alias("xy"),
    )
    for r in df.limit(100).collect():
        tbin = (r.ts.date() - datetime.date(1970, 1, 1)).days
        assert r.st_cell == (tbin << (2 * ST_RES)) | r.xy


def test_st_cell_groups_by_time_bin(spark, sf_dir):
    """Rows in different DAY bins can never share a composite key."""
    df = st_store(spark, sf_dir).select(
        F.to_date("ts").alias("y"), F.col("st_cell").alias("stc")
    )
    ambiguous = df.groupBy("stc").agg(F.countDistinct("y").alias("ny")).where(
        F.col("ny") > 1
    )
    assert ambiguous.count() == 0


def test_tile_range_query_matches_cover(spark, sf_dir):
    """Every tile a box covers inside the query bbox must be returned."""
    level = 7
    boxes = customer_boxes(spark, sf_dir)
    tiles = box_tile_cover(boxes, level).withColumn("level", F.lit(level)).distinct()
    bbox = (-40_000_000, -30_000_000, 50_000_000, 45_000_000)
    got = tile_range_query(tiles, *bbox, level=level)

    from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U

    n = 1 << level

    def g(v, off):
        return max(0, min(n - 1, (v + off) * n // WORLD_X_U))

    want = tiles.where(
        F.col("tx").between(g(bbox[0], LON_OFF_U), g(bbox[2], LON_OFF_U))
        & F.col("ty").between(g(bbox[1], LAT_OFF_U), g(bbox[3], LAT_OFF_U))
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
