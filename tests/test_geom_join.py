"""General-geometry join vs brute force — the reference's decisive
oracle pattern: GeoWaveSparkSpatialJoinIT.java:104-172 computes the
same join brute-force (cross join + the same predicate UDF) and asserts
indexed ≡ brute (equal counts + empty except). Mirrored here for the
point×polygon, line×polygon, geometry×geometry, and distance forms,
including semi/anti outputs."""

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME
from pyspark.sql import functions as F

from geowave_spark.operators.geom_join import geom_geom_join, geom_point_join
from geowave_spark.sources.testgeo import (
    customer_snapped_boxes,
    events_points,
    lshapes_from_keys,
    part_tracks,
    supplier_lshapes,
    xy_cols,
)
from oracles import pair_refine_udf

SF = "/root/testdata/sf0.001"

# prefix of the py4j message that releases a JVM object (memory delete)
_GC_COMMAND = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


@pytest.fixture(scope="module")
def fixtures(spark):
    return {
        "pts": events_points(spark, SF).limit(2000).cache(),
        "lsh": supplier_lshapes(spark, SF).cache(),
        "trk": part_tracks(spark, SF).limit(400).cache(),
        "snb": customer_snapped_boxes(spark, SF).limit(400).cache(),
    }


def _pairs(df, k1, k2):
    return set(map(tuple, df.select(k1, k2).collect()))


def brute_geom_geom(left, right, predicate, lk, rk, distance_u=None):
    """Cross join + the SAME refine UDF (the IT's brute-force arm)."""
    l = left.select(F.col(lk), F.col("geom").alias("_lg"))
    r = right.select(F.col(rk), F.col("geom").alias("_rg"))
    return (
        l.crossJoin(r)
        .where(pair_refine_udf(predicate, distance_u)(F.col("_lg"), F.col("_rg")))
        .select(lk, rk)
    )


@pytest.mark.parametrize("predicate", ["intersects", "crosses"])
def test_line_polygon_join_parity(spark, fixtures, predicate):
    idx = geom_geom_join(
        fixtures["trk"], fixtures["lsh"], predicate,
        left_key="p_partkey", right_key="s_suppkey",
    )
    brute = brute_geom_geom(
        fixtures["trk"], fixtures["lsh"], predicate, "p_partkey", "s_suppkey"
    )
    assert _pairs(idx, "p_partkey", "s_suppkey") == _pairs(
        brute, "p_partkey", "s_suppkey"
    )


def test_box_box_join_parity(spark, fixtures):
    snb = fixtures["snb"]
    a = snb.select(F.col("c_custkey").alias("a_key"), "geom")
    b = snb.select(F.col("c_custkey").alias("b_key"), "geom")
    for pred in ["touches", "overlaps", "equals", "contains"]:
        idx = geom_geom_join(
            a, b, pred, left_key="a_key", right_key="b_key",
            pair_filter=F.col("a_key") < F.col("b_key"),
        )
        brute = brute_geom_geom(a, b, pred, "a_key", "b_key").where(
            F.col("a_key") < F.col("b_key")
        )
        assert _pairs(idx, "a_key", "b_key") == _pairs(brute, "a_key", "b_key"), pred


def test_point_polygon_join_parity_and_forms(spark, fixtures):
    pts, lsh = fixtures["pts"], fixtures["lsh"]
    idx = geom_point_join(pts, lsh, "intersects", geom_key="s_suppkey")
    # brute force: cross join + vectorized point refine on raw coords
    from geowave_spark.operators.geom_join import _point_refine_udf

    brute = (
        pts.crossJoin(lsh.select("s_suppkey", F.col("geom").alias("_g")))
        .where(_point_refine_udf("intersects", None)(F.col("_g"), F.col("x_u"), F.col("y_u")))
        .select("event_id", "s_suppkey")
    )
    got, exp = _pairs(idx, "event_id", "s_suppkey"), _pairs(brute, "event_id", "s_suppkey")
    assert got == exp

    matched_pts = {p for p, _s in exp}
    semi = geom_point_join(pts, lsh, "intersects", geom_key="s_suppkey", how="leftsemi")
    anti = geom_point_join(pts, lsh, "intersects", geom_key="s_suppkey", how="leftanti")
    semi_ids = {r["event_id"] for r in semi.select("event_id").collect()}
    anti_ids = {r["event_id"] for r in anti.select("event_id").collect()}
    all_ids = {r["event_id"] for r in pts.select("event_id").collect()}
    assert semi_ids == matched_pts
    assert anti_ids == all_ids - matched_pts
    assert semi.count() + anti.count() == pts.count()


def test_distance_join_parity(spark, fixtures):
    pts, trk = fixtures["pts"], fixtures["trk"]
    r = 1_500_000
    idx = geom_point_join(pts, trk, distance_u=r, geom_key="p_partkey")
    from geowave_spark.operators.geom_join import _point_refine_udf

    brute = (
        pts.crossJoin(trk.select("p_partkey", F.col("geom").alias("_g")))
        .where(_point_refine_udf("intersects", r)(F.col("_g"), F.col("x_u"), F.col("y_u")))
        .select("event_id", "p_partkey")
    )
    assert _pairs(idx, "event_id", "p_partkey") == _pairs(brute, "event_id", "p_partkey")


def test_geom_geom_semi_anti(spark, fixtures):
    trk, lsh = fixtures["trk"], fixtures["lsh"]
    inner = geom_geom_join(
        trk, lsh, "intersects", left_key="p_partkey", right_key="s_suppkey"
    )
    matched = {r["p_partkey"] for r in inner.select("p_partkey").collect()}
    semi = geom_geom_join(
        trk, lsh, "intersects", left_key="p_partkey", right_key="s_suppkey",
        how="leftsemi",
    )
    anti = geom_geom_join(
        trk, lsh, "intersects", left_key="p_partkey", right_key="s_suppkey",
        how="leftanti",
    )
    ids = {r["p_partkey"] for r in trk.select("p_partkey").collect()}
    assert {r["p_partkey"] for r in semi.collect()} == matched
    assert {r["p_partkey"] for r in anti.collect()} == ids - matched


@pytest.mark.parametrize("collected", [True, False])
def test_empty_geometry_side(spark, fixtures, monkeypatch, collected):
    """An empty side — collected (an empty Arrow table, no res levels)
    or on the fact path (an empty checkpoint; a cap of -1 admits no
    side) — matches nothing, on either side of either join."""
    from geowave_spark.operators import geom_join as GJ

    if not collected:
        monkeypatch.setattr(GJ, "BC_MAX_BYTES", -1)
    trk, lsh = fixtures["trk"], fixtures["lsh"]
    empty = lsh.where(F.col("s_suppkey") < 0)
    kw = dict(left_key="p_partkey", right_key="s_suppkey")
    assert geom_geom_join(trk, empty, **kw).count() == 0
    assert geom_geom_join(trk, empty, how="leftanti", **kw).count() == trk.count()
    flipped = dict(left_key="s_suppkey", right_key="p_partkey")
    assert geom_geom_join(empty, trk, **flipped).count() == 0
    assert geom_point_join(fixtures["pts"], empty, geom_key="s_suppkey").count() == 0


def test_size_gate_mixed_broadcast_parity(spark, fixtures, monkeypatch):
    """With the per-side byte cap forced to 0 one or both payload
    dictionaries are disabled — every routing (fact-left×dim-right,
    dim-left×fact-right, no-broadcast shuffle) must match the default
    auto plan and brute force. Guards the 100×-scale contract: a side
    over the cap is never collect()ed to the driver."""
    from geowave_spark.operators import geom_join as GJ

    brute = _pairs(
        brute_geom_geom(
            fixtures["trk"], fixtures["lsh"], "intersects", "p_partkey", "s_suppkey"
        ),
        "p_partkey",
        "s_suppkey",
    )

    # auto (both sides small -> both dictionaries)
    auto = geom_geom_join(
        fixtures["trk"], fixtures["lsh"], "intersects",
        left_key="p_partkey", right_key="s_suppkey",
    )
    assert _pairs(auto, "p_partkey", "s_suppkey") == brute

    # a small side estimated over the cap (a selective filter over a
    # large table, without CBO): its exact WKB total admits it
    real_collect, collected = GJ._collect_dimension, []

    def recording_collect(side, key, *a):
        collected.append(key)
        return real_collect(side, key, *a)

    with monkeypatch.context() as m:
        m.setattr(GJ, "_size_estimate", lambda df: GJ.BC_MAX_BYTES + 1)
        m.setattr(GJ, "_collect_dimension", recording_collect)
        over = geom_geom_join(
            fixtures["trk"].where(F.col("p_partkey") % 2 == 0), fixtures["lsh"], "intersects",
            left_key="p_partkey", right_key="s_suppkey",
        )
        assert _pairs(over, "p_partkey", "s_suppkey") == {p for p in brute if p[0] % 2 == 0}
        assert collected == ["p_partkey", "s_suppkey"]

    # cap 0: auto degrades to the shuffle path (neither side collected)
    monkeypatch.setattr(GJ, "BC_MAX_BYTES", 0)
    none_bc = geom_geom_join(
        fixtures["trk"], fixtures["lsh"], "intersects",
        left_key="p_partkey", right_key="s_suppkey",
    )
    assert _pairs(none_bc, "p_partkey", "s_suppkey") == brute

    # one-side dictionaries: patch the gate so exactly one side fits
    lsh_bytes = int(
        fixtures["lsh"].agg(F.sum(F.length("geom"))).first()[0]
    )
    trk_bytes = int(
        fixtures["trk"].agg(F.sum(F.length("geom"))).first()[0]
    )
    monkeypatch.setattr(GJ, "BC_MAX_BYTES", min(lsh_bytes, trk_bytes) + 8)
    mixed = geom_geom_join(
        fixtures["trk"], fixtures["lsh"], "intersects",
        left_key="p_partkey", right_key="s_suppkey",
    )
    assert _pairs(mixed, "p_partkey", "s_suppkey") == brute

    # and the flipped orientation (big side on the right)
    flipped = geom_geom_join(
        fixtures["lsh"], fixtures["trk"], "intersects",
        left_key="s_suppkey", right_key="p_partkey",
    )
    flipped_brute = brute_geom_geom(
        fixtures["lsh"], fixtures["trk"], "intersects", "s_suppkey", "p_partkey"
    )
    assert _pairs(flipped, "s_suppkey", "p_partkey") == _pairs(
        flipped_brute, "s_suppkey", "p_partkey"
    )


def test_duplicate_payload_keys_degrade_on_auto_raise_on_forced(spark, fixtures):
    """ADVICE r3 (low): a key column with conflicting duplicates must
    not hard-fail the join — it degrades to the row-carried refine
    (correct without any payload dictionary). Byte-identical duplicate
    rows still broadcast."""
    dup = fixtures["trk"].select(
        (F.col("p_partkey") % 5).alias("p_partkey"), "geom"
    )
    # auto: degrades, matches brute force on the same (duplicated) keys
    got = geom_geom_join(
        dup, fixtures["lsh"], "intersects",
        left_key="p_partkey", right_key="s_suppkey",
    )
    brute = brute_geom_geom(
        dup, fixtures["lsh"], "intersects", "p_partkey", "s_suppkey"
    )
    assert _pairs(got, "p_partkey", "s_suppkey") == _pairs(
        brute, "p_partkey", "s_suppkey"
    )
    # byte-identical duplicate rows: dedupe, keep the broadcast plan
    ident = fixtures["trk"].limit(50)
    ident2 = ident.union(ident)
    same = geom_geom_join(
        ident2, fixtures["lsh"], "intersects",
        left_key="p_partkey", right_key="s_suppkey",
    )
    base = geom_geom_join(
        ident, fixtures["lsh"], "intersects",
        left_key="p_partkey", right_key="s_suppkey",
    )
    assert _pairs(same, "p_partkey", "s_suppkey") == _pairs(
        base, "p_partkey", "s_suppkey"
    )


def test_point_join_size_gate_parity(spark, fixtures, monkeypatch):
    """geom_point_join auto-gates its dimension collect: over the cap
    it must fall back to the row-carried refine with identical rows."""
    from geowave_spark.operators import geom_join as GJ
    from geowave_spark.operators.geom_join import _point_refine_udf

    brute = _pairs(
        fixtures["pts"].select("event_id", "x_u", "y_u")
        .crossJoin(fixtures["lsh"].select("s_suppkey", F.col("geom").alias("_g")))
        .where(
            _point_refine_udf("intersects", None)(
                F.col("_g"), F.col("x_u"), F.col("y_u")
            )
        ),
        "event_id",
        "s_suppkey",
    )
    monkeypatch.setattr(GJ, "BC_MAX_BYTES", 0)
    got = geom_point_join(
        fixtures["pts"], fixtures["lsh"], "intersects", geom_key="s_suppkey"
    )
    assert _pairs(got, "event_id", "s_suppkey") == brute


def _brute_point_pairs(pts, geoms, key):
    """Cross join + the row-carried point refine: the brute-force arm of
    test_point_join_size_gate_parity."""
    from geowave_spark.operators.geom_join import _point_refine_udf

    return _pairs(
        pts.select("event_id", "x_u", "y_u")
        .crossJoin(geoms.select(key, F.col("geom").alias("_g")))
        .where(_point_refine_udf("intersects", None)(F.col("_g"), F.col("x_u"), F.col("y_u"))),
        "event_id",
        key,
    )


def test_point_join_wrong_size_estimate_falls_back(spark, fixtures, monkeypatch):
    """The gate reads the optimizer's size estimate, which can be wrong;
    the WKB total of the rows as they are collected decides. An
    estimate of 0 under a cap below the side's real bytes still ends on
    the row-carried refine, with the brute-force pairs. A conflicting
    duplicate key falls back the same way."""
    from geowave_spark.operators import geom_join as GJ

    pts, lsh = fixtures["pts"], fixtures["lsh"]
    wkb_bytes = int(lsh.agg(F.sum(F.length("geom"))).first()[0])
    monkeypatch.setattr(GJ, "_size_estimate", lambda df: 0)

    row_refine = GJ._point_refine_udf

    def no_payload_refine(predicate, distance_u, geom_bc=None):
        assert geom_bc is None, "the payload-dictionary refine must not be planned"
        return row_refine(predicate, distance_u)

    with monkeypatch.context() as m:
        m.setattr(GJ, "BC_MAX_BYTES", wkb_bytes - 1)
        m.setattr(GJ, "_point_refine_udf", no_payload_refine)
        got = geom_point_join(pts, lsh, "intersects", geom_key="s_suppkey")
        assert _pairs(got, "event_id", "s_suppkey") == _brute_point_pairs(
            pts, lsh, "s_suppkey"
        )

    dup = lsh.select((F.col("s_suppkey") % 3).alias("s_suppkey"), "geom")
    with monkeypatch.context() as m:
        m.setattr(GJ, "_point_refine_udf", no_payload_refine)
        got = geom_point_join(pts, dup, "intersects", geom_key="s_suppkey")
        assert _pairs(got, "event_id", "s_suppkey") == _brute_point_pairs(
            pts, dup, "s_suppkey"
        )


def _plan_nodes(df):
    """Every node of ``df``'s executed plan (the AQE final plan, walked
    through its query stages), as (class name, node)."""
    return _subtree(df._jdf.queryExecution().executedPlan())


def _subtree(plan):
    """``plan`` and every node below it, as (class name, node)."""
    found = []

    def walk(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(p.plan())
        found.append((name, p))
        children = p.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(plan)
    return found


def _jobs_by_group(spark, run):
    """Run ``run(set_group)`` and return {group: number of Spark jobs};
    ``set_group(name)`` tags the jobs that follow it."""
    import time

    sc, groups = spark.sparkContext, []

    def set_group(name):
        groups.append(name)
        sc.setJobGroup(name, name)

    try:
        run(set_group)
        sc.setJobGroup("jobs-probe", "jobs-probe")  # job events arrive in order
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup("jobs-probe"):
            break
        time.sleep(0.05)
    return {g: len(tracker.getJobIdsForGroup(g)) for g in groups}


def _uncached_points(spark):
    """The sf0.001 events as (event_id, x_u, y_u): a projection no test
    module caches, so Spark's cache manager substitutes no
    ``InMemoryTableScan`` into a plan built over it (other modules
    ``.cache()`` the full ``events_points`` frame)."""
    x, y = xy_cols(F.col("event_id"))
    return spark.read.parquet(f"{SF}/events.parquet").select("event_id", x, y)


def _persistent_rdd_ids(spark) -> set:
    """Ids of the session's persistent RDDs. Compared as sets, not
    counted: an earlier test's checkpoint that the JVM garbage-collects
    meanwhile leaves the set, and must not hide a new one."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_point_join_job_budget_and_plan(spark):
    """Over a small geometry side the join runs one job before the frame
    returns (the collect of keys and payloads) and at most three in all
    (that collect, the broadcast, the join). The points are keyed at
    literal res levels: one long-keyed broadcast-hash join, no nested
    loop join, nothing cached, and the refine is the only Python node."""
    pts = _uncached_points(spark)
    lsh = supplier_lshapes(spark, SF)
    out = {}

    def run(set_group):
        set_group("gpj-build")
        out["df"] = geom_point_join(pts, lsh, "intersects", geom_key="s_suppkey")
        set_group("gpj-run")
        out["rows"] = out["df"].collect()

    jobs = _jobs_by_group(spark, run)
    assert out["rows"]
    assert jobs["gpj-build"] == 1
    assert jobs["gpj-build"] + jobs["gpj-run"] <= 3
    nodes = _plan_nodes(out["df"])
    names = [n for n, _ in nodes]
    (bhj,) = [p for n, p in nodes if n == "BroadcastHashJoinExec"]
    assert bhj.leftKeys().size() == 1
    assert bhj.leftKeys().apply(0).dataType().typeName() == "long"
    assert "BroadcastNestedLoopJoinExec" not in names
    assert "InMemoryTableScanExec" not in names
    assert names.count("ArrowEvalPythonExec") == 1


def test_point_join_leaves_no_persistent_rdds(spark):
    """Joins over distinct geometry inputs leave no new persistent RDD
    behind: nothing is cached per input."""
    pts = _uncached_points(spark)
    lsh = supplier_lshapes(spark, SF)
    before = _persistent_rdd_ids(spark)
    for i in range(5):
        geoms = lsh.where(F.col("s_suppkey") % 5 != i)
        geom_point_join(pts, geoms, "intersects", geom_key="s_suppkey").collect()
    assert _persistent_rdd_ids(spark) - before == set()


def test_geom_join_job_budget_and_plan(spark):
    """Dimension × dimension: the join runs at most two jobs before the
    frame returns (one bounded collect per side) and its plan is ONE
    join between the keyed sides, on a single long key — no union of
    branches, no nested loop join, nothing cached."""
    trk = part_tracks(spark, SF)
    lsh = supplier_lshapes(spark, SF)
    out = {}

    def run(set_group):
        set_group("ggj-build")
        out["df"] = geom_geom_join(
            trk, lsh, "intersects", left_key="p_partkey", right_key="s_suppkey"
        )
        set_group("ggj-run")
        out["rows"] = out["df"].collect()

    jobs = _jobs_by_group(spark, run)
    assert out["rows"]
    assert jobs["ggj-build"] <= 2
    nodes = _plan_nodes(out["df"])
    names = [n for n, _ in nodes]
    joins = [p for n, p in nodes if n.endswith("JoinExec")]
    assert len(joins) == 1
    assert joins[0].leftKeys().size() == 1
    assert joins[0].leftKeys().apply(0).dataType().typeName() == "long"
    assert "UnionExec" not in names
    assert "BroadcastNestedLoopJoinExec" not in names
    assert "InMemoryTableScanExec" not in names


def test_geom_join_refines_each_pair_once(spark):
    """Dimension × dimension: the pair refine runs on the deduped key
    pairs. Its ArrowEvalPython sits above the dedupe HashAggregate, so
    a pair that shares several cells reaches Python once."""
    df = geom_geom_join(
        part_tracks(spark, SF), supplier_lshapes(spark, SF), "intersects",
        left_key="p_partkey", right_key="s_suppkey",
    )
    assert df.collect()
    nodes = _plan_nodes(df)
    refines = [p for n, p in nodes if n == "ArrowEvalPythonExec"]
    assert len(refines) == 1
    assert "HashAggregateExec" in {n for n, _ in _subtree(refines[0])}
    for n, p in nodes:
        if n == "HashAggregateExec":
            assert "ArrowEvalPythonExec" not in {m for m, _ in _subtree(p)}


def test_geom_join_leaves_no_persistent_rdds(spark):
    """geom_geom_join over distinct dimension-sized geometry inputs
    leaves no new persistent RDD behind."""
    trk = part_tracks(spark, SF)
    lsh = supplier_lshapes(spark, SF)
    before = _persistent_rdd_ids(spark)
    for i in range(5):
        geoms = lsh.where(F.col("s_suppkey") % 5 != i)
        geom_geom_join(
            trk, geoms, "intersects", left_key="p_partkey", right_key="s_suppkey"
        ).collect()
    assert _persistent_rdd_ids(spark) - before == set()


def test_collect_stops_at_the_cap_before_the_last_partition(spark, fixtures, monkeypatch):
    """The size gate admits a side by the plan estimate, which can be
    far low. With the estimate forced to 0 and a cap of half the real
    WKB total, the collect of a geometry side spread over 8 partitions
    stops reading once the running total passes the cap, and both
    joins fall back to the row-carried refine with the brute-force
    pairs. The fact path keys that side once, into its checkpoint: the
    geometry join's plan keeps one Python node, the refine."""
    from geowave_spark.operators import geom_join as GJ

    lsh = lshapes_from_keys(spark, 800, 8)
    wkb_bytes = int(lsh.agg(F.sum(F.length("geom"))).first()[0])
    real_stream, read = GJ._arrow_stream, []

    def counting_stream(df):
        batches = real_stream(df)
        read.append([df.columns[0], 0])
        try:
            for b in batches:
                read[-1][1] += 1
                yield b
        finally:
            batches.close()

    monkeypatch.setattr(GJ, "_size_estimate", lambda df: 0)
    monkeypatch.setattr(GJ, "BC_MAX_BYTES", wkb_bytes // 2)
    monkeypatch.setattr(GJ, "_arrow_stream", counting_stream)

    pts = fixtures["pts"]
    got = geom_point_join(pts, lsh, "intersects", geom_key="s_suppkey")
    assert read == [["s_suppkey", read[0][1]]] and 0 < read[0][1] < 8
    assert _pairs(got, "event_id", "s_suppkey") == _brute_point_pairs(pts, lsh, "s_suppkey")

    read.clear()
    trk = fixtures["trk"]
    got = geom_geom_join(trk, lsh, "intersects", left_key="p_partkey", right_key="s_suppkey")
    ((k_l, n_l), (k_r, n_r)) = read
    assert (k_l, k_r) == ("p_partkey", "s_suppkey") and n_l > 0 and 0 < n_r < 8
    brute = brute_geom_geom(trk, lsh, "intersects", "p_partkey", "s_suppkey")
    assert _pairs(got, "p_partkey", "s_suppkey") == _pairs(brute, "p_partkey", "s_suppkey")
    assert [n for n, _ in _plan_nodes(got)].count("ArrowEvalPythonExec") == 1


def test_collect_bounds_the_driver_python_process_not_the_jvm(spark, monkeypatch):
    """With no more partitions than cores (4 on local[4]) every task of
    the collect runs at once: the driver's Python process stops reading
    at the cap, but the driver JVM has received each task that finished
    before the cancel — at least every batch Python read, up to all 4."""
    from geowave_spark.operators import geom_join as GJ

    lsh = lshapes_from_keys(spark, 800, 4).selectExpr("s_suppkey", "geom AS _g")
    wkb_bytes = int(lsh.agg(F.sum(F.length("_g"))).first()[0])
    monkeypatch.setattr(GJ, "BC_MAX_BYTES", wkb_bytes // 2)
    real_stream, read = GJ._arrow_stream, []

    def counting_stream(df):
        for b in real_stream(df):
            read.append(b.num_rows)
            yield b

    monkeypatch.setattr(GJ, "_arrow_stream", counting_stream)
    out = {}

    def run(set_group):
        set_group("bounded-collect")
        out["dim"] = GJ._collect_dimension(lsh, "s_suppkey", 32, 0)

    _jobs_by_group(spark, run)
    tracker = spark.sparkContext.statusTracker()
    (job,) = tracker.getJobIdsForGroup("bounded-collect")
    (stage,) = tracker.getJobInfo(job).stageIds
    shipped = tracker.getStageInfo(stage).numCompletedTasks
    assert out["dim"] is None
    assert 0 < len(read) < 4 and len(read) <= shipped <= 4


def test_collected_side_with_many_cache_misses_is_keyed_by_one_job(spark, fixtures, monkeypatch):
    """A collected side whose geometries miss the driver's cover cache
    beyond DRIVER_COVER_MAX is keyed by one more job across the cores;
    the driver caches those covers (equal to its own), so the next build
    is the collect alone. Both joins keep the brute-force pairs."""
    from geowave_spark.operators import geom_join as GJ

    monkeypatch.setattr(GJ, "DRIVER_COVER_MAX", 0)
    monkeypatch.setattr(GJ, "_POLYFILL_CACHE", {})
    pts, lsh = _uncached_points(spark), supplier_lshapes(spark, SF)
    out = {}

    def run(set_group):
        for build in ("cold", "warm"):
            set_group(build)
            out[build] = geom_point_join(pts, lsh, "intersects", geom_key="s_suppkey")

    assert _jobs_by_group(spark, run) == {"cold": 2, "warm": 1}
    cached = dict(GJ._POLYFILL_CACHE)
    assert len(cached) == lsh.count()
    GJ._POLYFILL_CACHE.clear()
    assert all(GJ._geom_cover(w, params) == c for (params, w), c in cached.items())
    assert _pairs(out["cold"], "event_id", "s_suppkey") == _brute_point_pairs(pts, lsh, "s_suppkey")

    trk = fixtures["trk"]
    got = geom_geom_join(trk, lsh, "intersects", left_key="p_partkey", right_key="s_suppkey")
    brute = brute_geom_geom(trk, lsh, "intersects", "p_partkey", "s_suppkey")
    assert _pairs(got, "p_partkey", "s_suppkey") == _pairs(brute, "p_partkey", "s_suppkey")


def test_geom_keys_udf_is_built_once_per_parameter_set(spark, monkeypatch):
    """The keying pandas UDF is memoized: a second geom_keys build with
    the same parameters creates no Python function object in the JVM
    and sends fewer gateway commands (the UDF build is ~19 commands in
    a warm session, ~37 in a fresh one). py4j's garbage-collection
    messages, sent whenever Python drops a JavaObject, are not counted:
    one GC inside a build would add ~100."""
    from geowave_spark.operators import geom_join

    lsh = supplier_lshapes(spark, SF)
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command

    def commands(build) -> list[str]:
        sent = []

        def recording(command, *a, **kw):
            if not command.startswith(_GC_COMMAND):
                sent.append(command)
            return real(command, *a, **kw)

        monkeypatch.setattr(client, "send_command", recording)
        try:
            build()
        finally:
            monkeypatch.undo()
        return sent

    def udf_objects(sent) -> int:
        return sum("PythonFunction" in c for c in sent)

    geom_join._keys_udf.cache_clear()
    first = commands(lambda: geom_join.geom_keys(lsh))
    second = commands(lambda: geom_join.geom_keys(lsh))
    assert udf_objects(first) > 0 and udf_objects(second) == 0
    assert len(first) - len(second) >= 15, (len(first), len(second))
    assert len(geom_join.geom_keys(lsh).select("res", "cells").collect()) == lsh.count()
