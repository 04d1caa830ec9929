"""DBSCAN over the cell-partitioned neighbor graph.

Reference: DBScanIterationsJobRunner (analytics/mapreduce/.../dbscan/)
— iterative cluster-merge over the NN partition pattern
(OrthodromicDistancePartitioner grid cells + expanded neighborhoods).

Engine plan:
  1. eps-neighbor pairs via the same 3×3 neighbor-cell equi-join as
     nn_join (one shuffle; candidates exact, no dedupe needed);
  2. core points = rows with ≥ min_pts neighbors (inclusive of self,
     the standard definition);
  3. cluster ids = connected components of the core-core subgraph by
     iterative min-label propagation (each round: one join + one
     groupBy-min; rounds ≤ graph diameter, geometric label spread in
     practice — the reference iterates job rounds the same way);
  4. border points adopt the smallest cluster id among their core
     neighbors; everything else is noise (cluster = NULL).

Output: (key, cluster, is_core) — cluster is the minimum point key of
the component's core points (deterministic), NULL for noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark.operators.nn_join import res_for_distance


def eps_pairs(
    points: DataFrame,
    eps_u: int,
    key: str = "event_id",
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Symmetric neighbor pairs (a_id, b_id) with 0 < dist ≤ eps.

    ``broadcast_candidates=False`` falls back to a shuffled cell
    equi-join (AQE skew-split applies) for corpora beyond broadcast
    size — mirrors nn_self_join's flag so DBSCAN has the same
    escape hatch instead of a guaranteed driver/executor OOM."""
    from geowave_spark.operators.nn_join import _cell_at, _ring_exploded

    res = res_for_distance(eps_u)
    left = points.select(
        F.col(key).alias("a_id"),
        F.col("x_u").alias("ax"),
        F.col("y_u").alias("ay"),
        _cell_at(res).alias("_cell"),
    ).repartition("a_id")

    # candidate side = the ONE 3×3 ring-explode implementation (shared
    # with nn_self_join, and with it the cell-id format both sides of
    # the join must agree on)
    right = _ring_exploded(points, res, key)
    if broadcast_candidates:
        right = F.broadcast(right)
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    return (
        left.join(right, "_cell")
        .where(F.col("a_id") != F.col("b_id"))
        .where(dx * dx + dy * dy <= F.lit(int(eps_u) * int(eps_u)))
        .select("a_id", "b_id")
    )


def dbscan(
    points: DataFrame,
    eps_u: int,
    min_pts: int,
    key: str = "event_id",
    max_iter: int = 15,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Returns (key, cluster, is_core); cluster NULL = noise.

    Label propagation uses neighbor-min spreading PLUS per-round
    pointer jumping (lbl ← lbl of lbl), so rounds scale with
    log(component diameter) — the large-star/small-star idea — and
    ``max_iter`` rounds converge any component of diameter ≤ ~2^max_iter.
    If the loop still exits unconverged, a RuntimeError is raised
    rather than silently splitting a component into several clusters."""
    spark = points.sparkSession
    pairs = eps_pairs(points, eps_u, key, broadcast_candidates).persist()

    deg = pairs.groupBy("a_id").agg(F.count("*").alias("_deg"))
    core = (
        # left join from ALL points (not just pair members): an
        # isolated point has no pair rows, so deriving cores from the
        # pair list alone would miss it — with min_pts=1 (neighbor
        # count inclusive of self) every point is a core point of its
        # own singleton cluster, not noise
        points.select(F.col(key).alias("a_id"))
        .join(deg, "a_id", "left")
        .where(F.coalesce(F.col("_deg"), F.lit(0)) >= min_pts - 1)
        .select(F.col("a_id").alias("id"))
        .persist()
    )

    cc_edges = (
        pairs.join(core.withColumnRenamed("id", "a_id"), "a_id")
        .join(core.withColumnRenamed("id", "b_id"), "b_id")
        .select("a_id", "b_id")
        .persist()
    )

    labels = core.select("id", F.col("id").alias("lbl"))
    changed = 1
    for _ in range(max_iter):
        prop = (
            cc_edges.join(labels.withColumnRenamed("id", "b_id"), "b_id")
            .groupBy("a_id")
            .agg(F.min("lbl").alias("nlbl"))
        )
        stepped = labels.join(prop.withColumnRenamed("a_id", "id"), "id", "left").select(
            "id", F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl")
        )
        # pointer jump: lbl ← min(lbl, lbl(lbl)) — doubles the label
        # horizon per round, log(diameter) total rounds
        parent = stepped.select(
            F.col("id").alias("_p_id"), F.col("lbl").alias("_p_lbl")
        )
        new_labels = (
            stepped.join(parent, stepped["lbl"] == parent["_p_id"], "left")
            .select(
                "id",
                F.least(F.col("lbl"), F.coalesce("_p_lbl", "lbl")).alias("lbl"),
            )
            .persist()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("lbl", "old"), "id")
            .where(F.col("lbl") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dbscan label propagation did not converge in {max_iter} rounds; "
            "raise max_iter (rounds scale with log of the largest cluster diameter)"
        )

    core_lbl = labels.select(F.col("id"), F.col("lbl").alias("cluster"))
    # border points: smallest core-neighbor's cluster
    border = (
        pairs.join(core_lbl.withColumnRenamed("id", "b_id"), "b_id")
        .join(core.withColumnRenamed("id", "a_id"), "a_id", "leftanti")
        .groupBy("a_id")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a_id").alias("id"), "cluster")
    )
    assigned = core_lbl.withColumn("is_core", F.lit(True)).unionByName(
        border.withColumn("is_core", F.lit(False))
    )
    return (
        points.select(F.col(key).alias("id"))
        .join(assigned, "id", "left")
        .select(F.col("id").alias(key), "cluster", F.coalesce("is_core", F.lit(False)).alias("is_core"))
    )
