"""kNN window ladder and distributed ladder vs the brute-force oracle
(NNMapReduce top-K semantics, NNMapReduce.java:60-95)."""

import pytest
from pyspark.sql import functions as F

from knn_oracles import knn_brute, knn_geodesic_brute

from geowave_spark.operators.knn import knn
from geowave_spark.sources.testgeo import events_points

QUERIES = [
    (1, 0, 0),
    (2, -73_950_000, 40_700_000),  # hotspot center — dense cell
    (3, 150_000_000, -60_000_000),  # sparse corner
]


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return events_points(spark, sf_dir).cache()


@pytest.mark.parametrize("k", [1, 5, 10])
def test_knn_matches_brute(spark, points, k):
    got = knn(spark, points, QUERIES, k).toPandas()
    exp = knn_brute(spark, points, QUERIES, k).toPandas()
    key = ["query_id", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert got[["query_id", "event_id", "dist2", "rank"]].equals(
        exp[["query_id", "event_id", "dist2", "rank"]]
    )
    assert len(got) == k * len(QUERIES)


def test_knn_join_matches_brute_large_queryset(spark):
    """Distributed knn_join (resolution-ladder rounds, no per-query
    driver state) must equal brute force over a large query set."""
    from geowave_spark.operators.knn import knn_join

    pts = events_points(spark, "/root/testdata/sf0.001")
    queries = [(i, (i * 7_919_993) % 300_000_000 - 150_000_000,
                (i * 3_644_437) % 150_000_000 - 75_000_000) for i in range(150)]
    qdf = spark.createDataFrame(
        [(int(q), int(x), int(y)) for q, x, y in queries],
        "query_id long, qx long, qy long",
    )
    got = knn_join(pts, qdf, 5)
    exp = knn_brute(spark, pts, queries, 5)
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in exp.collect()}
    assert g == e


def test_knn_join_releases_round_frames(spark):
    """Ladder persist hygiene: running the ladder must not accumulate
    one persisted frame per round per call — a long-lived session
    (bench loop, streaming driver) holds at most the checkpointed
    result, not every round's window output."""
    from geowave_spark.operators.knn import knn_join
    from geowave_spark.sources.testgeo import events_points

    pts = events_points(spark, "/root/testdata/sf0.001")
    qdf = pts.where(F.col("event_id") % 11 == 0).select(
        F.col("event_id").alias("query_id"),
        F.col("x_u").alias("qx"),
        F.col("y_u").alias("qy"),
    )

    def n_persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_persisted()
    r1 = knn_join(pts, qdf, 5)
    n1 = r1.count()
    after1 = n_persisted()
    r2 = knn_join(pts, qdf, 5)
    assert r2.count() == n1
    after2 = n_persisted()
    # each call may leave its (checkpointed) result + final remaining
    # until GC, but never a per-round accumulation (>=3 rounds run at
    # this density if leaking)
    assert after1 - base <= 3
    assert after2 - after1 <= 3


def test_knn_join_best_effort_when_k_exceeds_corpus(spark):
    """Regression: a query that can never satisfy the resolution gate
    (k > corpus size, or the k-th neighbor farther than a world span)
    previously produced ZERO rows from knn_join while knn() returned
    the available neighbors. The res-0 round now emits best-effort
    top-k for every unresolved query — and at res 0 the single cell
    holds every point, so those rows are the exact global ranks."""
    from geowave_spark.operators.knn import knn_join

    pts = spark.createDataFrame(
        [(i, i * 1_000_000, 0) for i in range(5)], "event_id LONG, x_u LONG, y_u LONG"
    )
    qdf = spark.createDataFrame(
        [(1, 0, 0), (2, 170_000_000, -80_000_000)], "query_id LONG, qx LONG, qy LONG"
    )
    out = knn_join(pts, qdf, k=10).toPandas()  # k > 5 points
    assert sorted(out["query_id"].unique()) == [1, 2]
    # every query gets ALL 5 available neighbors, exact ranks
    for q in (1, 2):
        sub = out[out["query_id"] == q].sort_values("rank")
        assert list(sub["rank"]) == [1, 2, 3, 4, 5]
        assert list(sub["dist2"]) == sorted(sub["dist2"])
    exp = knn(spark, pts, [(1, 0, 0), (2, 170_000_000, -80_000_000)], 10).toPandas()
    key = ["query_id", "rank"]
    assert (
        out.sort_values(key).reset_index(drop=True)[["query_id", "event_id", "dist2"]]
        .equals(exp.sort_values(key).reset_index(drop=True)[["query_id", "event_id", "dist2"]])
    )


def _jobs(spark, run) -> int:
    """Spark jobs started by ``run()`` (a job group tags them; a probe
    job after it marks the point where every job event has arrived)."""
    import time
    import uuid

    sc, group, probe = spark.sparkContext, f"knn-{uuid.uuid4()}", f"probe-{uuid.uuid4()}"
    try:
        sc.setJobGroup(group, group)
        run()
        sc.setJobGroup(probe, probe)
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(probe):
            break
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _plan_node_names(df) -> list[str]:
    names = []

    def walk(p):
        names.append(p.nodeName())
        children = p.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return names


@pytest.fixture(scope="module")
def snapshot_store(spark, sf_dir, tmp_path_factory):
    from geowave_spark.api import DataStore
    from geowave_spark.sources.icetable import IceTable

    t = IceTable(str(tmp_path_factory.mktemp("knn_snap") / "ev"))
    t.commit_write(events_points(spark, sf_dir), mode="overwrite", stats_cols=["x_u", "y_u"])
    ds = DataStore(spark)
    ds.add_snapshot_type("ev", t)
    return ds


@pytest.mark.parametrize("metric", ["planar", "geodesic"])
def test_single_query_knn_job_budget_and_no_persisted_rdds(spark, snapshot_store, metric):
    """One query over a snapshot type runs at most 5 Spark jobs from
    build through collect() (a count for the start radius, one job per
    window round); five calls persist no RDD; the returned frame is a
    local table with no Python node."""
    from geowave_spark.operators.geodesic import knn_geodesic

    ds = snapshot_store
    q = [(0, -73_950_000, 40_700_000)]

    def build():
        if metric == "planar":
            return ds.knn("ev", q, 10)
        return knn_geodesic(spark, ds.type("ev"), q, 10)

    def persistent_ids():
        # ids, not a count: earlier tests' RDDs may be released meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    build().collect()  # first call: one-time snapshot and plan lookups
    before = persistent_ids()
    out = {}
    assert _jobs(spark, lambda: out.update(rows=build().collect())) <= 5
    assert len(out["rows"]) == 10
    for _ in range(4):
        df = build()
        assert len(df.collect()) == 10
    assert persistent_ids() <= before
    names = _plan_node_names(df)
    assert names == ["LocalTableScan"], names


@pytest.mark.parametrize("metric", ["planar", "geodesic"])
def test_k_beyond_the_frame_and_empty_frame(spark, metric):
    """k larger than the frame returns every row per query, ranked; an
    empty frame returns no rows with the schema of a non-empty call, and
    so does an empty query list."""
    from geowave_spark.operators.geodesic import knn_geodesic

    pts = spark.createDataFrame(
        [(i, i * 1_000_000, (-1) ** i * 2_000_000) for i in range(7)],
        "event_id LONG, x_u LONG, y_u LONG",
    )
    queries = [(1, 0, 0), (2, 179_000_000, -80_000_000)]
    run, brute = (knn, knn_brute) if metric == "planar" else (knn_geodesic, knn_geodesic_brute)
    got = run(spark, pts, queries, 20)
    exp = brute(spark, pts, queries, 20)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    assert got.count() == 14
    empty = run(spark, pts.where("false"), queries, 5)
    assert empty.collect() == []
    assert empty.schema == got.schema
    assert run(spark, pts, [], 5).collect() == []
