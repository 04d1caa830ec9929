"""All-pairs nearest-neighbor self-join (the NNMapReduce analog).

Reference: every entry finds its neighbors within ``maxDistance`` and
keeps a bounded top-K list (analytics/mapreduce/.../nn/NNMapReduce.java:60-165,
DefaultNeighborList.java:17). Partitioning duplicates each entry into
its own grid cell plus the expanded neighborhood so that every true
neighbor pair co-occurs in ≥1 partition
(analytics/api/.../partitioner/OrthodromicDistancePartitioner.java).

Engine plan (fully distributed, no driver-side loop — this is the
many-queries twin of operators.knn, which optimizes the few-queries
case with a broadcast ring):

  1. pick the cell resolution so one cell spans ≥ max_dist (then the
     3×3 neighborhood provably covers every pair within max_dist);
  2. LEFT side keyed by its own cell; RIGHT side exploded to its 3×3
     neighbor cells (the duplication side — 9× the reference's
     "expanded neighborhood" writes);
  3. equi-join on cell → exact integer distance filter → per-left
     window top-k (rank ties broken by id — DefaultNeighborList's
     deterministic ordering).

One shuffle (the cell equi-join; the window reuses the same hash
partitioning on the left key side). Dense cells parallelize via AQE;
for extreme hotspots compose with plans.stats salting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U
from geowave_spark.index.native import _packed_cell, grid_coord_col


def res_for_distance(max_dist_u: int) -> int:
    """Coarsest resolution whose cell span is ≥ max_dist (so a 3×3 cell
    neighborhood covers every point within max_dist)."""
    res = 0
    while (WORLD_X_U >> (res + 1)) >= max_dist_u and res < 30:
        res += 1
    return res


def _cell_at(res: int) -> Column:
    """Packed cell id of (x_u, y_u) at ``res`` (≤ 30, so gx, gy < 2^30)."""
    return _packed_cell(
        grid_coord_col(F.col("x_u"), res, LON_OFF_U),
        grid_coord_col(F.col("y_u"), res, LAT_OFF_U),
    )


def _ring_exploded(points: DataFrame, res: int, key: str) -> DataFrame:
    """Candidate side exploded to its 3×3 cell neighborhood at ``res``
    (b_id, bx, by, _cell). The 9 neighbor cells are made DISTINCT per
    row natively (array_distinct handles domain-edge clamping
    collisions) — combined with a single query cell per point, a pair
    can match at most ONE join key, so no dedupe stage is needed (same
    proof as box_point_join)."""
    n_side = 1 << res
    gx0 = grid_coord_col(F.col("x_u"), res, LON_OFF_U)
    gy0 = grid_coord_col(F.col("y_u"), res, LAT_OFF_U)

    def clamp(g):
        return F.least(F.greatest(g, F.lit(0)), F.lit(n_side - 1))

    cells = F.array_distinct(
        F.array(
            *[
                _packed_cell(clamp(gx0 + dx), clamp(gy0 + dy))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    return points.select(
        F.col(key).alias("b_id"),
        F.col("x_u").alias("bx"),
        F.col("y_u").alias("by"),
        F.explode(cells).alias("_cell"),
    )


def nn_self_join(
    points: DataFrame,
    max_dist_u: int,
    k: int,
    key: str = "event_id",
    left_filter=None,
    broadcast_candidates: bool = True,
    prune_offset: int | None = 5,
) -> DataFrame:
    """Top-k neighbors within max_dist for every point (or the subset
    matching ``left_filter``). Returns (a_id, b_id, dist2, rank).

    ``left_filter`` (Column) restricts the query side only — the
    candidate side stays the full table, like the reference's query
    adapters vs indexed adapters split.

    ``prune_offset`` enables the dense-cell distance-bound prune: a
    PRE-PASS joins queries to candidates at a resolution ``prune_offset``
    levels FINER and takes the k-th smallest distance found there as a
    per-query upper bound on the true k-th-NN distance (any subset's
    k-th smallest ≥ the full set's k-th smallest, so filtering the
    coarse candidates by it can never drop a true top-k row; queries
    with < k fine candidates fall back to max_dist — no prune, but
    those are exactly the sparse queries whose candidate sets are small
    anyway). In dense cells this collapses the top-k sort input from
    O(cell population) to O(k) per query — the stage that dominates at
    hotspot scale, since the join/filter itself is a no-shuffle
    broadcast probe. Measured on the sf0.1 hotspot fixture: 20M → <1M
    sorted rows, nn_join 21 s → ~5 s, identical output."""
    res = res_for_distance(max_dist_u)

    left = points
    if left_filter is not None:
        left = left.where(left_filter)
    fine_cols = [_cell_at(min(res + prune_offset, 30)).alias("_fcell")] if prune_offset else []
    left = left.select(
        F.col(key).alias("a_id"),
        F.col("x_u").alias("ax"),
        F.col("y_u").alias("ay"),
        _cell_at(res).alias("_cell"),
        *fine_cols,
    )
    # spread the query side across the cluster BEFORE the broadcast
    # probe: a broadcast join inherits the stream side's partitioning,
    # and a filtered query set may sit in a handful of input splits —
    # without this the heavy probe fan-out (dense cells match thousands
    # of candidates per query row) runs nearly serial
    left = left.repartition("a_id")

    # the 9×-duplicated candidate side is narrow (id + 2 coords);
    # broadcasting it keeps dense hotspot CELLS from becoming skewed
    # shuffle keys — parallelism stays stream-side. For corpora too big
    # to broadcast pass False: the plan falls back to a shuffled cell
    # join where AQE skew-split + plans.stats salting apply (the
    # reference's partitioner always shuffles).
    right = _ring_exploded(points, res, key)
    if broadcast_candidates:
        right = F.broadcast(right)

    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    max_d2 = F.lit(int(max_dist_u) * int(max_dist_u))

    cand = (
        left.join(right, "_cell")
        .where(F.col("a_id") != F.col("b_id"))
        .withColumn("dist2", dx * dx + dy * dy)
        .where(F.col("dist2") <= max_d2)
        # narrow projection before the top-k sort: the window only
        # needs the keys + distance, and left is already
        # hash-partitioned by a_id so no exchange is inserted
        .select("a_id", "dist2", "b_id")
    )

    if prune_offset:
        fres = min(res + prune_offset, 30)
        fright = _ring_exploded(points, fres, key).withColumnRenamed("_cell", "_fcell")
        if broadcast_candidates:
            fright = F.broadcast(fright)
        fdx = F.col("ax") - F.col("bx")
        fdy = F.col("ay") - F.col("by")
        bounds = (
            left.join(fright, "_fcell")
            .where(F.col("a_id") != F.col("b_id"))
            .withColumn("_fd2", fdx * fdx + fdy * fdy)
            .where(F.col("_fd2") <= max_d2)
            .groupBy("a_id")
            .agg(
                F.coalesce(
                    F.try_element_at(F.array_sort(F.collect_list("_fd2")), F.lit(k)),
                    max_d2,
                ).alias("_bound")
            )
        )
        # bounds is one narrow row per query point — broadcast only when
        # the candidate side is broadcastable too (same size regime);
        # otherwise shuffle-join it like everything else at that scale
        if broadcast_candidates:
            bounds = F.broadcast(bounds)
        cand = (
            cand.join(bounds, "a_id", "left")
            .where(F.col("dist2") <= F.coalesce(F.col("_bound"), max_d2))
            .select("a_id", "dist2", "b_id")
        )

    w = Window.partitionBy("a_id").orderBy("dist2", "b_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("a_id", "b_id", "dist2", "rank")
    )
