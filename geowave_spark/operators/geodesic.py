"""Geodesic (great-circle) distance semantics — the orthodromic option.

The reference's NN/kNN partitioner measures great-circle meters
(analytics/api/src/main/java/org/locationtech/geowave/analytic/
partitioner/OrthodromicDistancePartitioner.java; its neighborhood cells
are sized from an orthodromic distance, so a radius-in-meters query at
high latitude admits different rows than a planar-degrees one). The
engine's default metric is exact planar integer micro-degrees
(operators/knn.py); this module adds the geodesic option:

- ``haversine_m`` — great-circle meters between two µdeg points on the
  mean sphere (R = 6371008.8 m), as a native Column expression (sin/
  cos/asin stay inside whole-stage codegen; no Python in the hot
  path). The longitude difference enters through sin(Δλ/2), so the
  formula is dateline-wrap-correct by construction.
- ``geodesic_window`` — the µdeg box that holds every point within a
  radius in meters: the coarse constraint of ECQL/GWQL
  ``DWITHIN(..., 'meters')`` (plans/cql.py) and the window of
  ``knn_geodesic``.
- ``knn_geodesic`` — exact kNN under the haversine metric through the
  planar knn()'s window ladder (operators/knn.py).
- ``dwithin_geodesic_col`` — radius-in-meters predicate for the
  DWITHIN/BEYOND surface.

Window containment (no point within radius r of (λq, φq) falls outside
its window): haversine d has sin²(d/2R) = sin²(Δφ/2) +
cosφq·cosφp·sin²(Δλ/2). The first term gives d ≥ R·|Δφ|, so |Δφ| ≤ r/R
bounds the latitude band; in it |φp| ≤ φband = min(|φq| + r/R, 90°),
so the second term gives sin(|Δλ|/2) ≤ sin(r/2R) / √(cosφq·cosφband):
the longitude half-width, taken cyclically, so a window crossing ±180°
wraps. When the right side reaches 1 (near a pole) every longitude
qualifies. Each bound is rounded up and widened by 1 µdeg, covering the
libm rounding of the closed form, so a point outside the window is
strictly farther than r under the same expression — the kNN ladder's
stop rule (tests/test_properties_geodesic.py sweeps it).

Exactness contract: distances are IEEE doubles through libm trig; the
engine guarantees exact *candidate completeness* (the window above)
and deterministic ordering ties broken by id. Two engines computing
the same closed-form haversine agree on ordering unless two distinct
points are within ~1 ulp of equidistant — not observable on the
hash-scattered fixtures (and tie-broken identically when truly equal).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from geowave_spark import LON_OFF_U, WORLD_X_U
from geowave_spark.operators.knn import _ladder

EARTH_R_M = 6371008.8  # IUGG mean earth radius, meters
# meters per µdeg of latitude on the mean sphere (meridional arc)
M_PER_UDEG = EARTH_R_M * math.pi / 180.0 / 1e6


def haversine_m(qx: Column, qy: Column, x: Column, y: Column) -> Column:
    """Great-circle meters between (qx, qy) and (x, y) µdeg points."""
    lat1 = F.radians(qy / F.lit(1e6))
    lat2 = F.radians(y / F.lit(1e6))
    dlat = F.radians((y - qy) / F.lit(2e6))
    dlon = F.radians((x - qx) / F.lit(2e6))
    a = F.pow(F.sin(dlat), F.lit(2.0)) + F.cos(lat1) * F.cos(lat2) * F.pow(
        F.sin(dlon), F.lit(2.0)
    )
    return F.lit(2.0 * EARTH_R_M) * F.asin(F.least(F.sqrt(a), F.lit(1.0)))


def haversine_m_sql(qx: str, qy: str, x: str, y: str) -> str:
    """DuckDB twin of haversine_m (same closed form)."""
    lat1 = f"radians({qy} / 1e6)"
    lat2 = f"radians({y} / 1e6)"
    dlat = f"radians(({y} - {qy}) / 2e6)"
    dlon = f"radians(({x} - {qx}) / 2e6)"
    a = (
        f"pow(sin({dlat}), 2.0) + cos({lat1}) * cos({lat2}) * "
        f"pow(sin({dlon}), 2.0)"
    )
    return f"2.0 * {EARTH_R_M} * asin(least(sqrt({a}), 1.0))"


def dwithin_geodesic_col(
    qx: Column, qy: Column, x: Column, y: Column, radius_m: float
) -> Column:
    """Great-circle DWITHIN: distance ≤ radius meters (BEYOND = ~)."""
    return haversine_m(qx, qy, x, y) <= F.lit(float(radius_m))


def geodesic_window(px: int, py: int, radius_m: float) -> tuple[int, int, int, int]:
    """µdeg box (x_lo, y_lo, x_hi, y_hi) holding every point within
    ``radius_m`` great-circle meters of (px, py) — the containment
    argument in the module docstring. ``x_lo > x_hi`` means the box
    crosses ±180° (``spatial_query.bbox_query_dateline`` splits it);
    the whole longitude range when every longitude qualifies."""
    dy = math.ceil(radius_m / M_PER_UDEG) + 1
    s = math.sin(min(radius_m / (2.0 * EARTH_R_M), math.pi / 2))
    phi_q = abs(py) / 1e6
    phi_band = min(phi_q + dy / 1e6, 90.0)
    cosprod = math.cos(math.radians(phi_q)) * math.cos(math.radians(phi_band))
    x_lo, x_hi = -LON_OFF_U, LON_OFF_U
    if cosprod > s * s:
        dx = math.ceil(math.degrees(2.0 * math.asin(s / math.sqrt(cosprod))) * 1e6) + 1
        if dx < LON_OFF_U:
            x_lo, x_hi = px - dx, px + dx
            if x_lo < -LON_OFF_U:
                x_lo += WORLD_X_U
            elif x_hi > LON_OFF_U:
                x_hi -= WORLD_X_U
    return x_lo, py - dy, x_hi, py + dy


def knn_geodesic(
    spark: SparkSession,
    points: DataFrame,
    queries: list[tuple[int, int, int]],  # (query_id, qx_u, qy_u)
    k: int,
    point_key: str = "event_id",
) -> DataFrame:
    """Exact kNN under the great-circle metric (haversine meters on the
    mean sphere) — the OrthodromicDistancePartitioner semantics for the
    knn surface, through the planar knn()'s window ladder with
    ``geodesic_window`` as the window.

    Returns (query_id, point_key, rank) — rank by (haversine, id). The
    float distance itself is intentionally NOT an output column: ranks
    are integer-exact across engines, meters are only libm-exact.
    """
    return _ladder(
        spark, points, queries, k, point_key,
        dist=lambda qx, qy: haversine_m(F.lit(qx), F.lit(qy), F.col("x_u"), F.col("y_u")),
        window=geodesic_window,
        reach=lambda d: d,
        unit=M_PER_UDEG,
        full=math.pi * EARTH_R_M,  # half a great circle: every point
        dist_field=None,
    )


def nn_self_join_geodesic(
    points: DataFrame,
    max_dist_m: float,
    k: int,
    key: str = "event_id",
    left_filter: Column | None = None,
    broadcast_candidates: bool = True,
    explode_side: str = "auto",
    prune_offset: int | None = None,
) -> DataFrame:
    """All-pairs NN self-join with a radius in METERS — the geodesic
    twin of nn_join.nn_self_join, completing the orthodromic option
    across the NN surface (knn_geodesic / dwithin_geodesic_col / this).

    Same one-shuffle shape as the planar join (one side keyed by its
    own cell, the other exploded to a covering neighborhood, equi-join,
    exact refine, per-query window top-k) with the two geodesic
    corrections baked into the NEIGHBORHOOD: the resolution is
    picked so one cell's LATITUDE span covers max_dist (±1 row of
    cells suffices vertically — meridians don't shrink), while the
    LONGITUDE half-width is PER-ROW: kx(φ) = floor(D / (R·cosφ_worst)
    / span) + 1 cells, where φ_worst is the row's |lat| widened by the
    lat reach D/R — at high latitude a lon-cell is narrower in meters,
    so the ring widens exactly there instead of globally (the
    OrthodromicDistancePartitioner's latitude-aware neighborhood).
    Longitude neighbors WRAP across the antimeridian (pmod), latitude
    clamps. A pair can match at most one join key (single own cell ×
    array_distinct neighborhood cells), so no dedupe stage exists.

    `explode_side` picks which side carries the ring duplication:
    φ_worst bounds EITHER endpoint's latitude (it widens the row's
    |lat| by the full reach), so ring(q) ∋ cell(b) ⇔ ring(b) ∋ cell(q)
    and the pair set is identical either way — duplication should ride
    the SMALLER side. 'auto' explodes the filtered query side when
    `left_filter` is set (it is the small side by construction:
    ~|Q|·(2kx+3) built rows instead of ~|P|·(2kx+3)) and the candidate
    side otherwise; 'left'/'right' force it.

    ``prune_offset`` exposes the planar join's dense-cell distance-bound
    prune (see nn_join.nn_self_join) under the haversine metric. It
    defaults OFF here, unlike the planar join: measured at sf0.1 (both
    the uniform fixture and a planted 600 km hotspot holding the whole
    corpus) the pre-pass never paid for itself, because the geodesic
    join's cost is dominated by the haversine refine over the coarse
    candidates — which the bound filter runs AFTER — not by the top-k
    sort the prune shrinks. Pass 5 for workloads where a few cells hold
    millions of rows each and the sort genuinely dominates.

    Returns (a_id, b_id, rank) — rank by (haversine, b_id); the float
    meters never leave the plan (integer-exact across engines)."""
    dist_lat_deg = math.degrees(float(max_dist_m) / EARTH_R_M)
    dist_lat_u = max(int(math.ceil(dist_lat_deg * 1e6)), 1)
    from geowave_spark.operators.nn_join import res_for_distance

    res = res_for_distance(dist_lat_u)
    n_side = 1 << res
    span_deg = 360.0 / n_side

    from geowave_spark import LAT_OFF_U, LON_OFF_U
    from geowave_spark.index.native import _packed_cell, grid_coord_col

    def clamp_y(g):
        return F.least(F.greatest(g, F.lit(0)), F.lit(n_side - 1))

    # per-row longitude half-width in cells (latitude-corrected ring);
    # unresolved refs — bind against whichever side carries the explode
    phi_worst = F.least(
        F.abs(F.col("y_u")) / F.lit(1e6) + F.lit(dist_lat_deg), F.lit(89.9999)
    )
    lon_deg_needed = F.lit(dist_lat_deg) / F.greatest(
        F.cos(F.radians(phi_worst)), F.lit(1e-9)
    )
    kx = F.least(
        F.floor(lon_deg_needed / F.lit(span_deg)).cast("int") + F.lit(1),
        F.lit(n_side // 2),
    )
    gx0 = grid_coord_col(F.col("x_u"), res, LON_OFF_U)
    gy0 = grid_coord_col(F.col("y_u"), res, LAT_OFF_U)
    ring = F.array_distinct(
        F.flatten(
            F.array(
                *[
                    F.transform(
                        F.sequence(-kx, kx),
                        lambda dx: _packed_cell(
                            F.pmod(gx0 + dx, F.lit(n_side)), clamp_y(gy0 + F.lit(dy))
                        ),
                    )
                    for dy in (-1, 0, 1)
                ]
            )
        )
    )
    own = _packed_cell(gx0, gy0)

    side = explode_side
    if side == "auto":
        side = "left" if left_filter is not None else "right"
    if side not in ("left", "right"):
        raise ValueError(f"explode_side must be auto/left/right, got {side!r}")

    q = points if left_filter is None else points.where(left_filter)
    a_cell = F.explode(ring) if side == "left" else own
    b_cell = own if side == "left" else F.explode(ring)
    left = q.select(
        F.col(key).alias("a_id"),
        F.col("x_u").alias("ax"),
        F.col("y_u").alias("ay"),
        a_cell.alias("_cell"),
    )
    right = points.select(
        F.col(key).alias("b_id"),
        F.col("x_u").alias("bx"),
        F.col("y_u").alias("by"),
        b_cell.alias("_cell"),
    )
    # spread the STREAM side across the cluster before the broadcast
    # probe: a broadcast join inherits the stream side's partitioning,
    # and a single parquet file lands in one input split — without this
    # the whole probe + haversine refine runs as ONE task regardless of
    # which side carries the ring duplication (same hazard the planar
    # nn_self_join guards against at nn_join.py:143)
    # the explicit count matters: the rows are narrow (id + 2 coords)
    # so AQE's byte-targeted coalescing would fold the shuffle down to
    # ~2 partitions, serializing the CPU-heavy haversine refine — a
    # user-numbered repartition is exempt from coalescing
    n_tasks = points.sparkSession.sparkContext.defaultParallelism
    if side == "left":
        right = right.repartition(n_tasks, "b_id")
        if broadcast_candidates:
            left = F.broadcast(left)
    else:
        left = left.repartition(n_tasks, "a_id")
        if broadcast_candidates:
            right = F.broadcast(right)

    hav = haversine_m(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"))
    cand = (
        left.join(right, "_cell")
        .where(F.col("a_id") != F.col("b_id"))
        .withColumn("_hav", hav)
        .where(F.col("_hav") <= F.lit(float(max_dist_m)))
        .select("a_id", "_hav", "b_id")
    )

    if prune_offset:
        # dense-cell distance-bound prune, the geodesic twin of
        # nn_join.nn_self_join's pre-pass: join queries to candidates in
        # a 3×3 neighborhood at a resolution ``prune_offset`` levels
        # FINER and take the k-th smallest haversine found there as a
        # per-query upper bound on the true k-th-NN distance. The bound
        # is valid for ANY candidate subset (a subset's k-th smallest ≥
        # the full set's), so the fine ring needs no radius coverage —
        # the planar _ring_exploded (clamped, unwrapped) is reused
        # as-is: clamping near the dateline only shrinks the subset,
        # weakening but never invalidating the bound. Queries with < k
        # fine candidates fall back to max_dist (no prune — exactly the
        # sparse queries whose coarse candidate sets are small anyway).
        from geowave_spark.operators.nn_join import _cell_at, _ring_exploded

        fres = min(res + prune_offset, 30)
        max_m = F.lit(float(max_dist_m))
        fleft = q.select(
            F.col(key).alias("a_id"),
            F.col("x_u").alias("ax"),
            F.col("y_u").alias("ay"),
            _cell_at(fres).alias("_fcell"),
        ).repartition("a_id")
        fright = _ring_exploded(points, fres, key).withColumnRenamed(
            "_cell", "_fcell"
        )
        if broadcast_candidates:
            fright = F.broadcast(fright)
        bounds = (
            fleft.join(fright, "_fcell")
            .where(F.col("a_id") != F.col("b_id"))
            .withColumn("_fhav", hav)
            .where(F.col("_fhav") <= max_m)
            .groupBy("a_id")
            .agg(
                F.coalesce(
                    F.try_element_at(
                        F.array_sort(F.collect_list("_fhav")), F.lit(k)
                    ),
                    max_m,
                ).alias("_bound")
            )
        )
        # one narrow row per query point — broadcast in the same size
        # regime as the candidate side, shuffle-join beyond it
        if broadcast_candidates:
            bounds = F.broadcast(bounds)
        cand = (
            cand.join(bounds, "a_id", "left")
            .where(F.col("_hav") <= F.coalesce(F.col("_bound"), max_m))
            .select("a_id", "_hav", "b_id")
        )

    w = Window.partitionBy("a_id").orderBy("_hav", "b_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("a_id", "b_id", "rank")
    )
