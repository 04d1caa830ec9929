"""Skew statistics + explicit salting — the HashKeyIndexStrategy /
RoundRobinKeyIndexStrategy analog (core/index/.../simple/
HashKeyIndexStrategy.java:44-70, RoundRobinKeyIndexStrategy.java:44,
composed via CompoundIndexStrategy). The reference salts *every* key by
a fixed partition count; the engine salts only cells whose measured
occupancy exceeds a threshold (cheaper at 100 TB: cold cells keep
locality, hot cells fan out), then AQE skew-join covers the residue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.index.native import cell_col


def hot_cells(points: DataFrame, res: int, threshold: int) -> DataFrame:
    """Cells with more than ``threshold`` rows (RowRangeHistogram-style
    occupancy stat driving split planning, SplitsProvider.java:356-380)."""
    return (
        points.withColumn("cell", cell_col(F.col("x_u"), F.col("y_u"), res))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > threshold)
        .select("cell", "n")
    )


def salt_column(df: DataFrame, hot: DataFrame, n_salts: int, key: str) -> DataFrame:
    """Add a ``salt`` column: deterministic hash-mod for rows in hot
    cells (HashKeyIndexStrategy.getHashKeyFromValue semantics — a stable
    hash of the data id, not random), 0 elsewhere. Joining sides must
    explode the salt range on the build side to stay correct."""
    hot_b = F.broadcast(hot.select("cell").withColumn("_hot", F.lit(True)))
    out = df.join(hot_b, "cell", "left")
    return out.withColumn(
        "salt",
        F.when(
            F.col("_hot").isNotNull(), F.pmod(F.xxhash64(F.col(key)), F.lit(n_salts))
        ).otherwise(F.lit(0)),
    ).drop("_hot")


def sketch_hash_col(c, prefix: str):
    """The md5-prefix hash draw every sketch shares (exact integer
    arithmetic, computable identically by the DuckDB oracle)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), c)), 1, 15), 16, 10
    ).cast("long")


def sketch_bucket_rows(df: DataFrame, col: str, width: int, depth: int, m: int, k: int):
    """THE single CMS/Bloom bucket pipeline of the commit-maintained
    sketches (sources/icetable._sketch_delta); the tests' on-demand
    sketches call it too, so the two agree by construction.
    NULLs are not sketch elements (a NULL md5 would otherwise ride into
    a NULL bucket). Returns (cms_rows [(d, bucket, n) Rows], sorted
    distinct bloom positions)."""
    df = df.where(F.col(col).isNotNull())
    c = F.col(col).cast("string")

    cms_rows = None
    for d in range(depth):
        part = df.select(
            F.lit(d).alias("d"),
            F.pmod(sketch_hash_col(c, f"cms{d}:"), F.lit(width)).alias("bucket"),
        )
        cms_rows = part if cms_rows is None else cms_rows.unionByName(part)
    cms_table = cms_rows.groupBy("d", "bucket").agg(F.count("*").alias("n")).collect()

    bf_rows = None
    for d in range(k):
        part = df.select(F.pmod(sketch_hash_col(c, f"bf{d}:"), F.lit(m)).alias("p"))
        bf_rows = part if bf_rows is None else bf_rows.unionByName(part)
    positions = sorted(int(r["p"]) for r in bf_rows.distinct().collect())
    return cms_table, positions


def explode_salts(df: DataFrame, hot: DataFrame, n_salts: int) -> DataFrame:
    """Build-side twin of salt_column: replicate hot-cell rows across all
    salt values so the salted equi-join stays complete."""
    hot_b = F.broadcast(hot.select("cell").withColumn("_hot", F.lit(True)))
    out = df.join(hot_b, "cell", "left")
    return out.withColumn(
        "salt",
        F.explode(
            F.when(
                F.col("_hot").isNotNull(),
                F.sequence(F.lit(0), F.lit(n_salts - 1)),
            ).otherwise(F.array(F.lit(0)))
        ),
    ).drop("_hot")


def split_plan(
    points: DataFrame,
    res: int,
    target_rows: int,
    x_col: str = "x_u",
    y_col: str = "y_u",
) -> DataFrame:
    """Balanced scan-split assignment from the cell-occupancy histogram
    — GeoWaveInputFormat's split planning (SplitsProvider.java:54-77,
    356-380: ranges sized by the RowRangeHistogram so every input split
    carries ~equal rows, not ~equal key-space).

    Output: one row per occupied grid cell (gx, gy, n, split_id) where
    ``split_id = rows_before_this_cell // target_rows`` in (gx, gy)
    order. The global window runs over the *histogram* (≤ 4^res rows),
    never the data — at 100 TB the histogram for res 8 is ≤ 65k rows,
    so the single-partition window stage is trivially small while the
    resulting splits balance the real scan."""
    from pyspark.sql import Window

    from geowave_spark import LAT_OFF_U, LON_OFF_U
    from geowave_spark.index.native import grid_coord_col

    counts = points.groupBy(
        grid_coord_col(F.col(x_col), res, LON_OFF_U).alias("gx"),
        grid_coord_col(F.col(y_col), res, LAT_OFF_U).alias("gy"),
    ).agg(F.count("*").alias("n"))
    w = Window.orderBy("gx", "gy").rowsBetween(Window.unboundedPreceding, -1)
    cum_before = F.coalesce(F.sum("n").over(w), F.lit(0))
    # exact integer floor-div (float floor diverges from the DuckDB
    # oracle once cumulative counts leave the double mantissa — the
    # same pitfall documented at index/native.grid_coord_col)
    return counts.withColumn(
        "split_id",
        F.call_function("div", cum_before, F.lit(target_rows)).cast("int"),
    )
