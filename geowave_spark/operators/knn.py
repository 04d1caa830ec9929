"""k-nearest-neighbors (NNMapReduce: a bounded top-K neighbor list per
entry over a distance-bounded neighborhood,
analytics/mapreduce/.../nn/NNMapReduce.java:60-165,
DefaultNeighborList.java:17).

Small query sets: ``knn`` and ``operators/geodesic.knn_geodesic`` share
``_ladder``, a driver-side ladder of bbox windows over the frame.
Large query sets: ``knn_join`` (``knn_auto`` cuts over at
``KNN_DISTRIBUTED_CUTOVER`` queries) keeps no per-query driver state.
"""

from __future__ import annotations

import functools
import math
from collections.abc import Callable

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from geowave_spark import WORLD_X_U
from geowave_spark.operators.spatial_query import bbox_query_dateline

# lon × lat extent of the domain in µdeg² (the start radius's density)
_DOMAIN_AREA_U = WORLD_X_U * (WORLD_X_U // 2)


def _ladder(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],
    k: int,
    point_key: str,
    dist: Callable[[int, int], Column],
    window: Callable[[int, int, float], tuple[int, int, int, int]],
    reach: Callable[[float], float],
    unit: float,
    full: float,
    dist_field: StructField | None,
) -> DataFrame:
    """Exact top-k of each query, as a local frame of (query_id,
    point_key[, dist_field], rank) ranked by (distance, key).

    ``dist(qx, qy)``: the distance Column from literal query coords.
    ``window(qx, qy, r)``: a µdeg box holding every point within radius
    r (``x_lo > x_hi`` crosses ±180°). ``reach(d)``: the least radius
    holding distance d. ``unit``: the radius of one µdeg. Every point
    is within ``full``. ``dist_field=None`` leaves the distance out.

    The start radius is the half-side of a square holding ~2k points at
    the frame's mean density (one ``count()``; nothing is keyed or
    persisted). A round filters the frame to each unresolved query's
    window like a bbox query, takes its k nearest with
    ``orderBy().limit(k)``, ranks them with ``row_number`` and collects
    them with ``toArrow()``; each per-query top-k is one partition, so
    the round needs no exchange and is one Spark job. A query is exact
    once its k-th distance is within the radius, since any point
    outside the window is farther; else the next radius is that k-th
    distance, or double with fewer than k rows. At ``full`` the query
    ranks the whole frame (k may exceed the rows). The result is a
    local Arrow table, so no Python runs in its plan.
    """
    name = "dist" if dist_field is None else dist_field.name
    n = points.count()
    r0 = min(math.ceil(math.sqrt(2 * k * _DOMAIN_AREA_U / n) / 2 * unit), full) if n else full
    at = {int(q): (int(x), int(y)) for q, x, y in queries}
    radius = dict.fromkeys(at, r0)
    w = Window.partitionBy("query_id").orderBy(name, point_key)
    parts = []
    while radius:
        branches = []
        for q, r in radius.items():
            qx, qy = at[q]
            cand = points if r >= full else bbox_query_dateline(points, *window(qx, qy, r))
            branches.append(
                cand.select(
                    F.lit(q).cast("long").alias("query_id"),
                    point_key,
                    dist(qx, qy).alias(name),
                )
                .orderBy(name, point_key)
                .limit(k)
            )
        cand = functools.reduce(DataFrame.unionAll, branches)
        top = cand.withColumn("rank", F.row_number().over(w)).toArrow()
        last = top.filter(pc.equal(top["rank"], k))
        kth = dict(zip(last["query_id"].to_pylist(), last[name].to_pylist()))
        done = []
        for q, r in list(radius.items()):
            nxt = reach(kth[q]) if q in kth else 2 * r
            if r >= full or nxt <= r:
                done.append(q)
                del radius[q]
            else:
                radius[q] = nxt
        parts.append(top.filter(pc.is_in(top["query_id"], pa.array(done, pa.int64()))))
    fields = [StructField("query_id", LongType()), points.schema[point_key]]
    fields += [dist_field] if dist_field else []
    schema = StructType([*fields, StructField("rank", IntegerType(), False)])
    if not parts:  # no queries
        return spark.createDataFrame([], schema)
    # the unfiltered full-frame round may differ from the windowed
    # rounds in column nullability only
    top = pa.concat_tables(parts, promote_options="permissive")
    return spark.createDataFrame(top.select(schema.fieldNames()), schema=schema)


def planar_window(qx: int, qy: int, r: int) -> tuple[int, int, int, int]:
    """The radius-r square around (qx, qy): ``dist2 ≤ r²`` bounds both
    |dx| and |dy| by r, so it holds every point within r."""
    return qx - r, qy - r, qx + r, qy + r


def knn(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],  # (query_id, qx_u, qy_u)
    k: int,
    point_key: str = "event_id",
) -> DataFrame:
    """Exact kNN of each query point, planar metric on µdeg ints.

    Returns (query_id, point_key, dist2, rank) — dist2 is the exact
    integer squared distance (deterministic, oracle-matchable); ties
    break by id (documented rule, FIXTURES.md §4).
    """

    def dist(qx: int, qy: int) -> Column:
        dx = F.col("x_u") - F.lit(qx).cast("long")
        dy = F.col("y_u") - F.lit(qy).cast("long")
        return dx * dx + dy * dy

    return _ladder(
        spark, points, queries, k, point_key, dist,
        window=planar_window,
        reach=lambda d2: math.isqrt(d2 - 1) + 1 if d2 else 0,  # ⌈√d2⌉
        unit=1,
        full=WORLD_X_U,
        dist_field=StructField("dist2", LongType()),
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
    ``knn``'s driver-side window ladder, which plans one windowed scan
    per query and would thrash the driver at thousands of queries).

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
            # (matching knn()'s full-frame round: k > corpus size, or a
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
    """Route small query sets through the driver-side ladder knn() and
    large ones through the distributed knn_join() — the documented
    cutover (one windowed scan per query is fine for a handful of
    queries, a scale hazard for thousands)."""
    if len(queries) <= KNN_DISTRIBUTED_CUTOVER:
        return knn(spark, points, queries, k, **kw)
    qdf = spark.createDataFrame(
        [(int(q), int(x), int(y)) for q, x, y in queries],
        "query_id long, qx long, qy long",
    )
    return knn_join(points, qdf, k, point_key=kw.get("point_key", "event_id"))
