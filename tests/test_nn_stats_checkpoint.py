"""NN self-join (brute-force oracle), table stats, stage checkpoints."""

from __future__ import annotations

from pyspark.sql import functions as F

from geowave_spark.operators.nn_join import nn_self_join, res_for_distance
from geowave_spark.plans.stats import hot_cells
from geowave_spark.sources.testgeo import events_points

MAX_D = 2_000_000  # 2 degrees
K = 4


def test_res_for_distance_covers():
    from geowave_spark import WORLD_X_U

    res = res_for_distance(MAX_D)
    assert (WORLD_X_U >> res) >= MAX_D > (WORLD_X_U >> (res + 1))


def test_nn_self_join_matches_bruteforce(spark, sf_dir):
    pts = events_points(spark, sf_dir)
    flt = F.col("event_id") % 10 == 0
    got = nn_self_join(pts, MAX_D, K, left_filter=flt)

    a = pts.where(flt).select(
        F.col("event_id").alias("a_id"), F.col("x_u").alias("ax"), F.col("y_u").alias("ay")
    )
    b = pts.select(
        F.col("event_id").alias("b_id"), F.col("x_u").alias("bx"), F.col("y_u").alias("by")
    )
    dx, dy = F.col("ax") - F.col("bx"), F.col("ay") - F.col("by")
    from pyspark.sql import Window

    w = Window.partitionBy("a_id").orderBy("dist2", "b_id")
    brute = (
        a.crossJoin(b)
        .where(F.col("a_id") != F.col("b_id"))
        .withColumn("dist2", dx * dx + dy * dy)
        .where(F.col("dist2") <= MAX_D * MAX_D)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= K)
        .select("a_id", "b_id", "dist2", "rank")
    )
    # set compare (exceptAll hits a Spark internal analyzer error on
    # this self-join lineage; row sets are small at test scale)
    gs = {tuple(r) for r in got.collect()}
    bs = {tuple(r) for r in brute.collect()}
    assert gs == bs
    assert len(gs) > 0


def test_hot_cells_finds_hotspots(spark, sf_dir):
    pts = events_points(spark, sf_dir)
    n = pts.count()
    hot = hot_cells(pts, res=6, threshold=n // 50).collect()
    # the 5 deliberate hotspot clusters (20% of rows) must surface
    assert 1 <= len(hot) <= 12
    assert sum(r.n for r in hot) >= n // 10


def test_field_sketches(spark, sf_dir):
    from oracles import field_sketches

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cms, bf = field_sketches(ev, "event_type")
    types = [r.event_type for r in ev.select("event_type").distinct().collect()]
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    for t in types:
        assert bf.might_contain(t)
        # CMS overestimates only, within collision slack
        est = cms.estimate(t)
        assert exact[t] <= est <= exact[t] + int(0.02 * ev.count()) + 1
    assert not bf.might_contain("no-such-event-type-xyz")


def test_salted_join_equals_unsalted(spark, sf_dir):
    """End-to-end hot-cell salting (HashKeyIndexStrategy analog): the
    salted (cell, salt) equi-join returns exactly the plain cell join."""
    from geowave_spark.index.native import cell_col
    from geowave_spark.plans.stats import explode_salts, hot_cells, salt_column
    from geowave_spark.sources.testgeo import events_points

    res, n_salts = 6, 4
    pts = events_points(spark, sf_dir)
    hot = hot_cells(pts, res, threshold=20)
    a = pts.select("event_id", "x_u", "y_u").withColumn(
        "cell", cell_col(F.col("x_u"), F.col("y_u"), res)
    )
    b = pts.select(
        F.col("event_id").alias("b_id"),
        cell_col(F.col("x_u"), F.col("y_u"), res).alias("cell"),
    )
    plain = a.join(b, "cell").select("event_id", "b_id")

    a_s = salt_column(a, hot, n_salts, key="event_id")
    b_s = explode_salts(b.join(F.broadcast(hot.select("cell")), "cell", "left").select("b_id", "cell"), hot, n_salts)
    salted = a_s.join(b_s, ["cell", "salt"]).select("event_id", "b_id")

    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0


def test_split_plan_balanced(spark, sf_dir):
    """Split sizes are within target ± the largest single cell (a cell
    is never split across two splits — SplitsProvider semantics), and
    cumulative ordering is respected."""
    from geowave_spark.plans.stats import split_plan

    target = 150
    pts = events_points(spark, sf_dir)
    plan = split_plan(pts, 4, target).collect()
    assert sum(r.n for r in plan) == pts.count()
    by_split = {}
    for r in plan:
        by_split.setdefault(r.split_id, 0)
        by_split[r.split_id] += r.n
    max_cell = max(r.n for r in plan)
    # every split holds < target + max_cell rows (a cell is never split)
    for sid, n in by_split.items():
        assert n < target + max_cell
    # exact recomputation: split_id == rows_before // target in (gx, gy)
    # order (ids may legitimately skip integers when one cell > 2x target)
    cum = 0
    for r in sorted(plan, key=lambda r: (r.gx, r.gy)):
        assert r.split_id == cum // target
        cum += r.n


def test_ice_stage_store_records_real_wall_ms(spark, tmp_path):
    """Regression: IceStageStore evaluated wall_ms while BUILDING the
    commit_write argument — before the lazy partition frame ever ran —
    so lineage rows recorded ~0 ms for arbitrarily expensive
    partitions. The summary is now a callable evaluated after the data
    write executes the frame."""
    import time as _time

    from geowave_spark.plans.checkpoint import IceStageStore

    store = IceStageStore(str(tmp_path / "stages"))

    def make_partition(k):
        # a frame whose EXECUTION visibly costs time (driver-side sleep
        # inside a pandas UDF would be flaky; a fat cross-range keeps
        # the cost on the executors and deterministic enough: >100 ms)
        df = spark.range(0, 2_000_000).selectExpr(
            "id", "md5(concat('x', cast(id AS STRING))) AS h"
        )
        return df.where("substring(h, 1, 1) != 'z'")

    t0 = _time.time()
    store.run_stage(spark, "wall", [0], make_partition, "fp1")
    elapsed_ms = (_time.time() - t0) * 1000
    m = store.metrics("wall")
    assert len(m) == 1
    wall = m[0]["wall_ms"]
    # the recorded wall must be a real measurement: nonzero and within
    # the observed elapsed envelope
    assert 0 < wall <= elapsed_ms + 1
    assert wall > 20  # a 2M-row md5 projection cannot run in ~0 ms
