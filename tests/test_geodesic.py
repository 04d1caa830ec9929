"""Geodesic (great-circle) distance option — operators/geodesic.py.

Parity target: the reference's orthodromic distance semantics
(analytics/api/.../partitioner/OrthodromicDistancePartitioner.java) —
radius-in-meters neighborhoods that shrink per-longitude-degree at
high latitude, vs the engine's default planar µdeg metric."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from knn_oracles import knn_geodesic_brute

from geowave_spark.operators.geodesic import (
    EARTH_R_M,
    dwithin_geodesic_col,
    haversine_m,
    knn_geodesic,
)
from geowave_spark.operators.knn import knn
from geowave_spark.sources.testgeo import events_points

K = 10


def _ranks(df):
    return {
        (r["query_id"], r["rank"]): r["event_id"] for r in df.collect()
    }


def test_geodesic_matches_brute_force(spark, sf_dir):
    """Window-ladder kNN must equal the brute cross-join under the same
    haversine metric — including the 70°N and near-antimeridian
    queries where the latitude-corrected, wrapping window does real
    work."""
    queries = [(1, 0, 0), (2, 20_000_000, 70_000_000), (3, 179_000_000, -50_000_000)]
    pts = events_points(spark, sf_dir)
    got = _ranks(knn_geodesic(spark, pts, queries, K))
    exp = _ranks(knn_geodesic_brute(spark, pts, queries, K))
    assert got == exp and len(got) == 3 * K


def test_planar_and_geodesic_diverge_at_high_latitude(spark, sf_dir):
    """At 70°N a longitude degree is ~2.9x shorter in meters than a
    latitude degree: the planar µdeg top-k and the geodesic top-k must
    return different neighbor SETS for the same query (the semantic
    gap this operator closes)."""
    q = [(2, 20_000_000, 70_000_000)]
    pts = events_points(spark, sf_dir)
    planar = {r["event_id"] for r in knn(spark, pts, q, K).collect()}
    geo = {r["event_id"] for r in knn_geodesic(spark, pts, q, K).collect()}
    assert planar != geo
    # sanity: at the equator the two metrics agree on the neighbor set
    q0 = [(1, 0, 0)]
    planar0 = {r["event_id"] for r in knn(spark, pts, q0, K).collect()}
    geo0 = {r["event_id"] for r in knn_geodesic(spark, pts, q0, K).collect()}
    assert planar0 == geo0


def test_antimeridian_wrap_finds_cross_dateline_neighbors(spark):
    """A planted neighbor 0.2° across the dateline is geodesically
    ~15 km away; the wrapping window must return it as the nearest —
    a clamped (non-wrapping) window would only see the distant
    same-side points."""
    rows = [
        (1, 179_900_000, 0),      # query side, near the antimeridian
        (2, -179_900_000, 0),     # 0.2° across the dateline (~22 km)
        (3, 170_000_000, 0),      # same side, ~9.9 degrees away
        (4, 160_000_000, 0),
    ]
    pts = spark.createDataFrame(rows, "event_id LONG, x_u LONG, y_u LONG")
    out = knn_geodesic(spark, pts, [(1, 179_900_000, 0)], 2)
    got = [r["event_id"] for r in out.orderBy("rank").collect()]
    assert got == [1, 2]  # itself, then the cross-dateline point


def test_geodesic_matches_brute_over_150_queries(spark, sf_dir):
    """150 queries spread over the globe, plus the hard places: above
    80° of latitude in both hemispheres and at ±179.9° of longitude,
    where windows span every longitude or wrap across ±180°."""
    queries = [
        (i, (i * 7_919_993) % 360_000_000 - 180_000_000,
         (i * 3_644_437) % 170_000_000 - 85_000_000)
        for i in range(140)
    ]
    queries += [
        (140 + j, x, y)
        for j, (x, y) in enumerate([
            (179_900_000, 0), (-179_900_000, 0), (179_900_000, 84_000_000),
            (-179_900_000, -84_000_000), (0, 82_000_000), (90_000_000, -81_500_000),
            (180_000_000, 45_000_000), (-180_000_000, -45_000_000),
            (45_000_000, 89_900_000), (-135_000_000, -89_900_000),
        ])
    ]
    pts = events_points(spark, sf_dir)
    got = _ranks(knn_geodesic(spark, pts, queries, 5))
    exp = _ranks(knn_geodesic_brute(spark, pts, queries, 5))
    assert got == exp and len(got) == 150 * 5


def test_dwithin_geodesic_high_latitude_semantics(spark):
    """DWITHIN 60 km at 80°N: a point 1° east (~19.3 km) is inside,
    a point 1° north (~111 km) is outside — the planar metric would
    judge them equidistant."""
    rows = [
        (1, 21_000_000, 80_000_000),  # 1° east of the query
        (2, 20_000_000, 81_000_000),  # 1° north
    ]
    pts = spark.createDataFrame(rows, "event_id LONG, x_u LONG, y_u LONG")
    hit = pts.where(
        dwithin_geodesic_col(
            F.lit(20_000_000), F.lit(80_000_000),
            F.col("x_u"), F.col("y_u"), 60_000.0,
        )
    )
    assert {r["event_id"] for r in hit.collect()} == {1}


def test_haversine_known_distances(spark):
    """Spot values against closed-form references: one degree of
    latitude ~ 111.195 km on the mean sphere; antipodal points = piR."""
    df = spark.range(1).select(
        haversine_m(F.lit(0), F.lit(0), F.lit(0), F.lit(1_000_000)).alias("d1"),
        haversine_m(
            F.lit(0), F.lit(0), F.lit(180_000_000), F.lit(0)
        ).alias("d2"),
    )
    r = df.first()
    assert abs(r["d1"] - EARTH_R_M * math.radians(1.0)) < 1.0
    assert abs(r["d2"] - EARTH_R_M * math.pi) < 1.0


def test_nn_join_geodesic_matches_brute(spark, sf_dir):
    """The latitude-corrected ring join must equal brute all-pairs
    haversine ranking for every query row (incl. high-latitude rows
    where the ring widens and near-dateline rows where it wraps)."""
    from geowave_spark.operators.geodesic import nn_self_join_geodesic

    pts = events_points(spark, sf_dir)
    radius, k = 400_000.0, 4
    flt = F.col("event_id") % 25 == 0
    got = nn_self_join_geodesic(pts, radius, k, left_filter=flt)
    g = {(r["a_id"], r["rank"]): r["b_id"] for r in got.collect()}

    q = pts.where(flt).select(
        F.col("event_id").alias("a_id"),
        F.col("x_u").alias("ax"),
        F.col("y_u").alias("ay"),
    )
    from pyspark.sql import Window

    hav = haversine_m(F.col("ax"), F.col("ay"), F.col("x_u"), F.col("y_u"))
    w = Window.partitionBy("a_id").orderBy("_h", "event_id")
    brute = (
        pts.crossJoin(F.broadcast(q))
        .where(F.col("event_id") != F.col("a_id"))
        .withColumn("_h", hav)
        .where(F.col("_h") <= radius)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
    b = {(r["a_id"], r["rank"]): r["event_id"] for r in brute.collect()}
    assert g == b and len(g) > 0


def test_nn_join_geodesic_high_latitude_ring_widens(spark):
    """A planted pair at 84°N separated by 10° of longitude is only
    ~116 km apart — a fixed 3x3 planar ring at the radius-derived
    resolution would miss it; the latitude-corrected ring must not."""
    from geowave_spark.operators.geodesic import nn_self_join_geodesic

    rows = [
        (1, 0, 84_000_000),
        (2, 10_000_000, 84_000_000),   # ~116 km away at 84N
        (3, 0, -84_000_000),           # far (other pole)
    ]
    pts = spark.createDataFrame(rows, "event_id LONG, x_u LONG, y_u LONG")
    out = nn_self_join_geodesic(pts, 200_000.0, 2)
    got = {(r["a_id"], r["b_id"]) for r in out.collect()}
    assert (1, 2) in got and (2, 1) in got
    assert all(a != 3 and b != 3 for a, b in got)


def test_nn_join_geodesic_explode_side_symmetric(spark, sf_dir):
    """ring(q) ∋ cell(b) ⇔ ring(b) ∋ cell(q): φ_worst widens the ring
    owner's |lat| by the full reach, so it bounds EITHER endpoint —
    exploding the query side or the candidate side must yield the
    identical ranked pair set (this is what lets `auto` put the ring
    duplication on the smaller, filtered side)."""
    from geowave_spark.operators.geodesic import nn_self_join_geodesic

    pts = events_points(spark, sf_dir)
    flt = F.col("event_id") % 25 == 0
    kw = dict(max_dist_m=400_000.0, k=4, left_filter=flt)
    lft = nn_self_join_geodesic(pts, explode_side="left", **kw)
    rgt = nn_self_join_geodesic(pts, explode_side="right", **kw)
    a = {tuple(r) for r in lft.collect()}
    b = {tuple(r) for r in rgt.collect()}
    assert a == b and len(a) > 0

    with pytest.raises(ValueError):
        nn_self_join_geodesic(pts, 1.0, 1, explode_side="both")


def test_nn_join_geodesic_prune_identical_output(spark, sf_dir):
    """The fine-resolution distance-bound prune (prune_offset) may only
    shrink the SORT input, never the answer: k-th smallest haversine
    over the fine-ring subset upper-bounds the true k-th-NN distance,
    so every true top-k row survives the bound filter. Pruned and
    unpruned runs must produce the identical ranked pair set."""
    from geowave_spark.operators.geodesic import nn_self_join_geodesic

    pts = events_points(spark, sf_dir)
    kw = dict(max_dist_m=400_000.0, k=4, left_filter=F.col("event_id") % 25 == 0)
    pruned = nn_self_join_geodesic(pts, prune_offset=5, **kw)
    full = nn_self_join_geodesic(pts, prune_offset=None, **kw)
    a = {tuple(r) for r in pruned.collect()}
    b = {tuple(r) for r in full.collect()}
    assert a == b and len(a) > 0
