"""k-nearest-neighbors via cell-ring expansion + windowed rank.

Reference semantics: NNMapReduce partitions space into grid cells with
an expanded neighborhood, then keeps a bounded top-K neighbor list per
entry (analytics/mapreduce/.../nn/NNMapReduce.java:60-165,
DefaultNeighborList.java:17; partitioner
analytics/api/.../partitioner/OrthodromicDistancePartitioner.java).

Engine plan: query points are few (a query set), so their ring-expanded
candidate cells form a small broadcast dimension; candidates equi-join
on cell, exact squared distance is a native integer expression, and
``row_number() over (partition by query order by dist, id)`` takes the
top k — the Window.partitionBy analog called for by SURVEY.md §2.3.

Correct-by-construction ring bound: if ring radius w covers distance
d_w = w * cell_span, then once a query has ≥ k candidates within d_w in
the ring, no point outside the ring can be closer — the expansion stops
(same guarantee as the reference's maxDistance-bounded neighborhoods).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geowave_spark import WORLD_X_U
from geowave_spark.index.native import cell_col
from geowave_spark.index.zorder import cell_of_point, kring


def knn(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],  # (query_id, qx_u, qy_u)
    k: int,
    res: int = 8,
    point_key: str = "event_id",
    max_ring: int | None = None,
) -> DataFrame:
    """Exact kNN of each query point, planar metric on µdeg ints.

    Returns (query_id, point_key, dist2, rank) — dist2 is the exact
    integer squared distance (deterministic, oracle-matchable); ties
    break by id (documented rule, FIXTURES.md §4).
    """
    cell_span = WORLD_X_U >> res
    n_side = 1 << res
    if max_ring is None:
        max_ring = n_side  # full-domain fallback (exactness guarantee)

    # keyed once and persisted for the whole ladder — each round joins
    # the same keyed table instead of re-scanning + re-keying it
    pts = points.withColumn(
        "_cell", cell_col(F.col("x_u"), F.col("y_u"), res)
    ).persist()

    # density-derived starting ring: smallest ring whose (2r+1)² cells
    # hold ≥ 2k points at the table's mean density. Starting at ring 1
    # burns a full join+count round per doubling for queries in sparse
    # regions; starting too large only admits extra candidates (the
    # safe-distance gate below is what guarantees exactness either
    # way). Same rationale as knn_join's density resolution.
    n_pts = pts.count()
    density = max(n_pts / float(4**res), 1e-12)
    ring = 1
    while (2 * ring + 1) ** 2 * density < 2 * k and ring < max_ring:
        ring *= 2

    while True:
        cand_rows = []
        for qid, qx, qy in queries:
            c = cell_of_point(qx, qy, res)
            for cc in kring(c, res, ring):
                cand_rows.append((int(qid), int(qx), int(qy), int(cc)))
        qdf = F.broadcast(
            spark.createDataFrame(cand_rows, "query_id long, qx long, qy long, _cell long")
        )
        j = pts.join(qdf, "_cell", "inner")
        dx = F.col("x_u") - F.col("qx")
        dy = F.col("y_u") - F.col("qy")
        cand = j.withColumn("dist2", dx * dx + dy * dy)

        # a candidate at dist ≤ (ring)*cell_span is provably closer than
        # anything outside the ring (ring+1 boundary ≥ ring*cell_span away)
        safe_d = ring * cell_span
        counts = {
            r["query_id"]: r["n"]
            for r in cand.where(F.col("dist2") <= safe_d * safe_d)
            .groupBy("query_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        if all(counts.get(q[0], 0) >= k for q in queries) or ring >= max_ring:
            w = Window.partitionBy("query_id").orderBy("dist2", point_key)
            out = (
                cand.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", point_key, "dist2", "rank")
            )
            # materialize the (≤ queries×k rows) result, then release
            # the keyed table — without this every knn() call leaked a
            # persisted copy of the point table into the cache manager
            # for the session's lifetime (knn_join's pattern)
            out = out.localCheckpoint(eager=True)
            pts.unpersist()
            return out
        ring *= 2


def knn_brute(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],
    k: int,
    point_key: str = "event_id",
) -> DataFrame:
    """Brute-force oracle twin (cross join), for tests and small inputs."""
    qdf = F.broadcast(
        spark.createDataFrame(
            [(int(q), int(x), int(y)) for q, x, y in queries],
            "query_id long, qx long, qy long",
        )
    )
    dx = F.col("x_u") - F.col("qx")
    dy = F.col("y_u") - F.col("qy")
    w = Window.partitionBy("query_id").orderBy("dist2", point_key)
    return (
        points.crossJoin(qdf)
        .withColumn("dist2", dx * dx + dy * dy)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", point_key, "dist2", "rank")
    )


def knn_join(
    points: DataFrame,
    queries_df: DataFrame,
    k: int,
    res: int = 10,
    point_key: str = "event_id",
) -> DataFrame:
    """Distributed kNN for LARGE query sets — queries live in a
    DataFrame, no per-query driver state (the cutover target for
    ``knn``'s driver-side ring loop, which collects per-ring counts and
    would thrash the driver at thousands of queries).

    Round r probes a 3×3 neighbor-cell ring at resolution ``res - r``
    (coarsening doubles the covered distance while keeping 9 candidate
    cells per query — the resolution ladder replaces the ring-radius
    ladder). A query resolves once it has ≥ k candidates within one
    cell span: every point that close is provably inside the ring, so
    its exact top-k is already among the candidates. Unresolved
    queries carry to the next (coarser) round; the only driver-side
    signal is one emptiness check per round, bounded by ``res`` rounds.

    The ladder STARTS at the density resolution — the finest res whose
    3×3 ring holds ≥ 2k points for a uniform corpus (one count() of the
    point table picks it). Uniform-density queries resolve in round 1;
    only queries in sparse regions escalate coarser. Starting finer
    than the data supports just burns empty rounds (each round is a
    driver-gated job), which dominated wall time at low densities.

    Returns (query_id, point_key, dist2, rank), identical to knn()."""
    from geowave_spark import WORLD_X_U
    from geowave_spark.index.native import _packed_cell, grid_coord_col
    from geowave_spark import LAT_OFF_U, LON_OFF_U

    n_pts = points.count()
    density_res = max(0, (max(9 * n_pts // (2 * k), 1)).bit_length() - 1) // 2
    res = min(res, density_res)

    out = None
    remaining = queries_df.select("query_id", "qx", "qy")
    round_frames: list[DataFrame] = []
    for r in range(res + 1):
        res_r = res - r
        n_side = 1 << res_r
        cell_span = WORLD_X_U >> res_r

        def clamp(g):
            return F.least(F.greatest(g, F.lit(0)), F.lit(n_side - 1))

        # packed (gx<<32 | gy) ring-cell ids, NOT Morton: the join only
        # needs a bijective id, and _spread_col on a COMPUTED input
        # (clamp(gx±1)) inlines 2^6 copies of it per level — the
        # Catalyst codegen blowup documented at index/native.py
        # _spread_col (measured here: 259 s → ~10 s for an 11-round
        # ladder at sf0.001)
        base = remaining.select(
            "query_id",
            "qx",
            "qy",
            grid_coord_col(F.col("qx"), res_r, LON_OFF_U).alias("_gx"),
            grid_coord_col(F.col("qy"), res_r, LAT_OFF_U).alias("_gy"),
        )
        cells = F.array_distinct(
            F.array(
                *[
                    _packed_cell(clamp(F.col("_gx") + dx), clamp(F.col("_gy") + dy))
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        )
        qring = F.broadcast(
            base.select("query_id", "qx", "qy", F.explode(cells).alias("_cell"))
        )
        pts = points.withColumn(
            "_cell",
            _packed_cell(
                grid_coord_col(F.col("x_u"), res_r, LON_OFF_U),
                grid_coord_col(F.col("y_u"), res_r, LAT_OFF_U),
            ),
        )
        dx = F.col("x_u") - F.col("qx")
        dy = F.col("y_u") - F.col("qy")
        cand = pts.join(qring, "_cell").withColumn("dist2", dx * dx + dy * dy)

        safe2 = F.lit(int(cell_span) * int(cell_span))
        w = Window.partitionBy("query_id").orderBy("dist2", point_key)
        # persisted for the ladder's lifetime only: the round's take(1)
        # gate and the final materialization both read every round's
        # window output from cache; the ladder then eagerly checkpoints
        # the (small, ≤ queries×k rows) result ONCE and unpersists
        # every round frame — a long-lived session keeps the result
        # blocks, not the ladder's working set
        ranked = cand.withColumn("rank", F.row_number().over(w)).persist()
        round_frames.append(ranked)
        resolved = (
            ranked.where((F.col("rank") <= k) & (F.col("dist2") <= safe2))
            .groupBy("query_id")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") >= k)
            .select("query_id")
        )
        if res_r == 0:
            # final round: the single res-0 cell holds EVERY point, so
            # the window rank already IS the exact global rank — emit
            # best-effort top-k for every still-unresolved query
            # (matching knn()'s max_ring exit: k > corpus size, or a
            # k-th neighbor farther than a world span, must yield the
            # available neighbors, not zero rows)
            hit = ranked.where(F.col("rank") <= k).select(
                "query_id", point_key, "dist2", "rank"
            )
        else:
            hit = (
                ranked.join(F.broadcast(resolved), "query_id")
                .where(F.col("rank") <= k)
                .select("query_id", point_key, "dist2", "rank")
            )
        out = hit if out is None else out.unionByName(hit)
        remaining = remaining.join(resolved, "query_id", "leftanti").persist()
        round_frames.append(remaining)
        if res_r == 0 or not remaining.take(1):
            break
    out = out.localCheckpoint(eager=True)
    for df in round_frames:
        df.unpersist()
    return out


KNN_DISTRIBUTED_CUTOVER = 64


def knn_auto(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],
    k: int,
    **kw,
) -> DataFrame:
    """Route small query sets through the driver-ring knn() and large
    ones through the distributed knn_join() — the documented cutover
    (driver-side ring counts are fine for a handful of queries, a
    scale hazard for thousands)."""
    if len(queries) <= KNN_DISTRIBUTED_CUTOVER:
        return knn(spark, points, queries, k, **kw)
    qdf = spark.createDataFrame(
        [(int(q), int(x), int(y)) for q, x, y in queries],
        "query_id long, qx long, qy long",
    )
    return knn_join(points, qdf, k, point_key=kw.get("point_key", "event_id"))
