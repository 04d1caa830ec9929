"""Spatial join vs brute-force oracle — the reference's decisive test
(GeoWaveSparkSpatialJoinIT.java:104-172: indexed.except(brute) empty,
equal counts, per side)."""

import re

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
from pyspark.sql import functions as F

from geowave_spark.operators.spatial_join import box_point_join, boxes_with_cells
from geowave_spark.sources.testgeo import customer_boxes, events_points


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return events_points(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def boxes(spark, sf_dir):
    return customer_boxes(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def brute_pairs(points, boxes):
    return (
        points.crossJoin(boxes)
        .where(
            F.col("x_u").between(F.col("x_lo"), F.col("x_hi"))
            & F.col("y_u").between(F.col("y_lo"), F.col("y_hi"))
        )
        .select("event_id", "c_custkey")
        .cache()
    )


def test_join_matches_brute_force(spark, points, boxes, brute_pairs):
    got = box_point_join(points, boxes).cache()
    n_got, n_exp = got.count(), brute_pairs.count()
    assert n_exp > 0, "fixture produced no matching pairs"
    assert n_got == n_exp
    assert got.exceptAll(brute_pairs).count() == 0
    assert brute_pairs.exceptAll(got).count() == 0


def test_join_semi_and_anti_forms(points, boxes, brute_pairs):
    semi = box_point_join(points, boxes, how="leftsemi")
    anti = box_point_join(points, boxes, how="leftanti")
    matched_ids = set(r["event_id"] for r in brute_pairs.select("event_id").distinct().collect())
    assert set(r["event_id"] for r in semi.select("event_id").collect()) == matched_ids
    n_total = points.count()
    assert anti.count() == n_total - len(matched_ids)
    # semi output keeps the full point schema (per-side output form)
    assert set(semi.columns) == set(points.columns)


def test_boxes_with_cells_duplication_bounded(boxes):
    b = boxes_with_cells(boxes)
    per_box = b.groupBy("c_custkey").agg(F.count("*").alias("n"))
    assert per_box.agg(F.max("n")).first()[0] <= 4  # corner-cell cap


def test_join_broadcast_hint(points, boxes, brute_pairs):
    got = box_point_join(points, boxes, broadcast_boxes=True)
    assert got.count() == brute_pairs.count()


def _broadcast_hash_joins(df):
    """Every BroadcastHashJoinExec of ``df``'s executed plan (the AQE
    final plan, walked through its query stages)."""
    found = []

    def walk(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(p.plan())
        if name == "BroadcastHashJoinExec":
            found.append(p)
        children = p.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def _extent_point_joins(spark, sf, points):
    from geowave_spark.operators.distance_join import point_distance_join
    from geowave_spark.operators.geom_join import geom_point_join
    from geowave_spark.operators.poly_join import octagon_point_join
    from geowave_spark.sources.testgeo import supplier_lshapes, supplier_octagons

    right = points.limit(50).select(F.col("event_id").alias("c_custkey"), "x_u", "y_u")
    return {
        "box_point_join": lambda: box_point_join(points, customer_boxes(spark, sf)),
        "octagon_point_join": lambda: octagon_point_join(points, supplier_octagons(spark, sf)),
        "point_distance_join": lambda: point_distance_join(points, right, 500_000),
        "geom_point_join": lambda: geom_point_join(points, supplier_lshapes(spark, sf)),
    }


@pytest.mark.parametrize(
    "op", ["box_point_join", "octagon_point_join", "point_distance_join", "geom_point_join"]
)
def test_key_join_is_one_broadcast_long_key(spark, sf_dir, points, op):
    """Each extent × point join plans its key join as ONE broadcast-hash
    join on ONE LongType key: a two-column (res, cell) key makes Spark
    broadcast a generic bytes-keyed hash relation several times larger."""
    df = _extent_point_joins(spark, sf_dir, points.limit(2000))[op]()
    assert df.collect()
    (bhj,) = _broadcast_hash_joins(df)
    assert bhj.leftKeys().size() == 1
    assert bhj.leftKeys().apply(0).dataType().typeName() == "long"


def test_box_join_builds_in_few_gateway_commands(spark, monkeypatch):
    """Building box_point_join's plan stays within a py4j command budget:
    each Column node is one driver→JVM round trip, so a key tree built
    from Column calls (~1,360 commands) would blow it; the SQL-text keys
    take ~90. py4j's garbage-collection messages (sent whenever Python
    drops a JavaObject; one GC inside the build adds ~100) are not
    counted."""
    pts = spark.range(10).select(
        F.col("id").alias("event_id"),
        (F.col("id") * 1000).alias("x_u"),
        (F.col("id") * 1000).alias("y_u"),
    )
    boxes = spark.range(3).select(
        F.col("id").alias("c_custkey"),
        F.lit(0).cast("long").alias("x_lo"),
        F.lit(0).cast("long").alias("y_lo"),
        (F.col("id") * 5000).alias("x_hi"),
        (F.col("id") * 5000).alias("y_hi"),
    )
    box_point_join(pts, boxes)  # first build: one-time lookups
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []

    def counting(command, *a, **kw):
        if not command.startswith(MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME):
            sent.append(1)
        return real(command, *a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    df = box_point_join(pts, boxes)
    monkeypatch.undo()
    assert 0 < len(sent) <= 200
    assert df.count() == 17


def test_points_keyed_at_literal_levels_match_the_res_dimension(spark, points):
    """Keying the points at a list of res levels gives the same
    (point, key) rows as crossing them with a distinct-res frame, with
    each grid expression in the plan once; an empty list keys
    nothing."""
    from geowave_spark.operators.spatial_join import points_keyed_by_res

    pts = points.limit(500)
    levels = [3, 9, 16]
    dim = spark.createDataFrame([(r,) for r in levels], "res int")
    by_frame = points_keyed_by_res(pts, dim).select("event_id", "_jcell").collect()
    keyed = points_keyed_by_res(pts, levels)
    by_list = keyed.select("event_id", "_jcell").collect()
    assert len(by_list) == 1500
    assert sorted(by_list) == sorted(by_frame)
    assert points_keyed_by_res(pts, []).count() == 0
    # each POINT_RES grid expression is analysed once, not once per level
    analysed = keyed._jdf.queryExecution().analyzed().toString()
    assert len(re.findall(r"cast\(x_u#\d+L as bigint\)", analysed)) == 1
    assert len(re.findall(r"cast\(y_u#\d+L as bigint\)", analysed)) == 1
