"""CLI tests (geowave_spark/cli.py vs the reference's command groups)."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest

from geowave_spark import cli
from geowave_spark.sources import formats as FM
from geowave_spark.sources.icetable import IceTable

SF = "/root/testdata/sf0.001"


def run(argv):
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = cli.main(argv)
    return rc, buf.getvalue()


@pytest.fixture(scope="module")
def store(tmp_path_factory, spark):
    """Ingest the gdelt + tdrive fixture formats into a CLI store."""
    src = FM.formats_fixture_dir(SF)
    store = str(tmp_path_factory.mktemp("cli_store"))
    rc, out = run(
        ["ingest", "localtogw", src, store, "--formats", "gdelt,tdrive"]
    )
    assert rc == 0, out
    return store


def test_ingest_listplugins():
    rc, out = run(["ingest", "listplugins"])
    assert rc == 0
    assert set(out.split()) == set(FM.FORMATS)


def test_ingest_and_type_list(store, spark):
    rc, out = run(["type", "list", store])
    assert rc == 0
    lines = dict(
        (ln.split("\t")[0], ln) for ln in out.strip().splitlines()
    )
    # superset, not equality: later CLI tests land analytic output
    # types in this shared store
    assert {"gdelt", "tdrive"} <= set(lines)
    assert lines["gdelt"] == "gdelt\tgdelt\t978 rows"  # skip rules applied at ingest
    assert lines["tdrive"] == "tdrive\ttdrive\t1000 rows"
    assert IceTable(os.path.join(store, "gdelt")).read(spark).count() == 978


def test_ingest_of_every_format_lists_each_type(spark, tmp_path):
    """`ingest localtogw` of the whole fixture tree lands one type per
    format, each holding its format frame's rows; an unknown type is
    refused without creating its directory."""
    src = FM.formats_fixture_dir(SF)
    store = str(tmp_path)
    rc, _ = run(["ingest", "localtogw", src, store])
    assert rc == 0
    rc, out = run(["type", "list", store])
    assert rc == 0
    listed = {
        name: (fmt, int(rows.split()[0]))
        for name, fmt, rows in (ln.split("\t") for ln in out.strip().splitlines())
    }
    want = {
        fmt: (fmt, df.count()) for fmt, df in FM.ingest_directory(spark, src).items()
    }
    assert listed == want and len(want) == 10
    for verb in ("describe", "rm"):
        assert run(["type", verb, store, "nope"])[0] == 1
    assert not os.path.exists(os.path.join(store, "nope"))


def test_type_describe(store):
    rc, out = run(["type", "describe", store, "gdelt"])
    assert rc == 0
    schema = dict(ln.split("\t") for ln in out.strip().splitlines())
    assert schema["eventid"] == "int" and schema["x_u"] == "bigint"
    assert schema["cell"] == "bigint"  # stored by the ingest's index rule
    rc, _ = run(["type", "describe", store, "nope"])
    assert rc == 1
    assert not os.path.exists(os.path.join(store, "nope"))


def test_query_select_console_and_csv(store):
    stmt = "SELECT eventid, x_u, y_u FROM gdelt WHERE eventid < 50 LIMIT 5"
    rc, out = run(["query", store, stmt])
    assert rc == 0 and "(5 rows)" in out
    rc, out = run(["query", store, stmt, "--format", "csv"])
    assert rc == 0
    assert out.splitlines()[0] == "eventid,x_u,y_u"
    assert len(out.strip().splitlines()) == 6


def test_query_spatial_predicate(store):
    """BBOX over the ingested micro-degree keys — the GWQL spatial
    surface works against CLI-ingested format data unchanged."""
    rc, out = run(
        [
            "query",
            store,
            "SELECT eventid FROM gdelt "
            "WHERE BBOX(geom, -10000000, -10000000, 10000000, 10000000)",
            "--format",
            "csv",
        ]
    )
    assert rc == 0
    n = len(out.strip().splitlines()) - 1
    assert 0 < n < 978  # a real spatial subset


def test_stat_list(store):
    rc, out = run(["stat", "list", store, "--type", "gdelt"])
    assert rc == 0
    assert "gdelt: COUNT = 978" in out
    assert "gdelt.eventid: FIELD_MIN_MAX" in out


def _cli_jobs(spark, argv, group):
    """(stdout of the CLI run, number of Spark jobs it started)."""
    import time

    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rc, out = run(argv)
        sc.setJobGroup(group + "-probe", group)  # events arrive in order
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rc == 0
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(group + "-probe"):
            break
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def test_stat_list_is_one_aggregate_per_type(spark, tmp_path):
    """`stat list` is one GWQL aggregate per type. Footer stats that
    cover COUNT and every MIN/MAX answer it from the manifest: at most
    one job per type (the literal row). A timestamp field (no footer
    stats) makes it one scan — its shuffle map stage and its result
    stage are one job each under adaptive execution — where a separate
    count() and agg() ran two scans, four jobs."""
    from pyspark.sql import functions as F

    store = _tiny_store(spark, str(tmp_path))
    _commit(store, "pts2", spark.range(0, 30, numPartitions=3).select(
        F.col("id").alias("eventid"), (F.col("id") * 0.5).alias("w")
    ))
    out, n_jobs = _cli_jobs(spark, ["stat", "list", store], "stat-list-stats")
    assert out.splitlines() == [
        "pts: COUNT = 20",
        "pts.eventid: FIELD_MIN_MAX = [0, 19]",
        "pts.x_u: FIELD_MIN_MAX = [0, 19000]",
        "pts.y_u: FIELD_MIN_MAX = [0, 19000]",
        "pts2: COUNT = 30",
        "pts2.eventid: FIELD_MIN_MAX = [0, 29]",
        "pts2.w: FIELD_MIN_MAX = [0.0, 14.5]",
    ]
    assert n_jobs <= 2

    _commit(store, "ts", spark.range(0, 10, numPartitions=2).select(
        F.col("id").alias("eventid"), F.timestamp_seconds("id").alias("t")
    ))
    out, n_jobs = _cli_jobs(spark, ["stat", "list", store, "--type", "ts"], "stat-list-scan")
    assert out.splitlines() == [
        "ts: COUNT = 10",
        "ts.eventid: FIELD_MIN_MAX = [0, 9]",
        "ts.t: FIELD_MIN_MAX = [1970-01-01 00:00:00, 1970-01-01 00:00:09]",
    ]
    assert n_jobs <= 2


def test_rewrites_keep_only_the_current_snapshot(spark, tmp_path):
    """Re-ingesting a type and a DELETE drop the superseded snapshots
    and their files: three ingests of one type leave one data dir and
    print what one ingest prints; after a DELETE the type keeps one
    data dir, its format and the post-delete rows."""
    src = FM.formats_fixture_dir(SF)
    store = str(tmp_path / "s")
    outs = []
    for _ in range(3):
        rc, _ = run(["ingest", "localtogw", src, store, "--formats", "gdelt"])
        assert rc == 0
        outs.append([
            run(["type", "list", store])[1],
            run(["query", store, "SELECT eventid FROM gdelt WHERE eventid < 30",
                 "--format", "csv"])[1],
            run(["stat", "list", store])[1],
        ])
        assert len(os.listdir(os.path.join(store, "gdelt", "data"))) == 1
    assert outs[0] == outs[1] == outs[2]
    assert outs[0][0] == "gdelt\tgdelt\t978 rows\n"

    rc, out = run(["query", store, "DELETE FROM gdelt WHERE eventid < 50"])
    assert rc == 0 and "deleted" in out
    t = IceTable(os.path.join(store, "gdelt"))
    assert len(t.snapshots()) == 1 and t.snapshots()[0]["operation"] == "delete"
    assert len(os.listdir(os.path.join(store, "gdelt", "data"))) == 1
    n = t.read(spark).count()
    assert run(["type", "list", store])[1] == f"gdelt\tgdelt\t{n} rows\n"
    assert n < 978


def test_query_delete_persists(store, spark):
    """GWQL DELETE through the CLI commits one delete snapshot to the
    stored type."""
    rc, out = run(["query", store, "DELETE FROM gdelt WHERE eventid < 50"])
    assert rc == 0 and "deleted" in out
    rc, out = run(
        [
            "query",
            store,
            "SELECT eventid FROM gdelt WHERE eventid < 50",
            "--format",
            "csv",
        ]
    )
    assert len(out.strip().splitlines()) == 1  # header only — durably gone
    t = IceTable(os.path.join(store, "gdelt"))
    assert t.snapshots()[-1]["operation"] == "delete"
    assert t.merged_column_stats()["n_rows"] == t.read(spark).count() < 978


def _tiny_store(spark, root: str) -> str:
    """A store of one 20-row point type ``pts`` (eventid 0..19)."""
    from pyspark.sql import functions as F

    _commit(root, "pts", spark.range(0, 20, numPartitions=2).select(
        F.col("id").cast("int").alias("eventid"),
        (F.col("id") * 1000).alias("x_u"),
        (F.col("id") * 1000).alias("y_u"),
    ))
    return root


def _commit(root: str, name: str, df) -> None:
    t = IceTable(os.path.join(root, name))
    t.commit_write(df, mode="overwrite")
    t.set_properties(format="gdelt")


def _stored_ids(store):
    rc, out = run(["query", store, "SELECT eventid FROM pts", "--format", "csv"])
    assert rc == 0
    return sorted(int(v) for v in out.split()[1:])


def test_query_delete_of_a_quoted_type_name_persists(spark, tmp_path):
    store = _tiny_store(spark, str(tmp_path))
    rc, out = run(["query", store, 'DELETE FROM "pts" WHERE eventid < 5'])
    assert rc == 0 and "deleted 5 rows from 'pts'" in out
    assert _stored_ids(store) == list(range(5, 20))
    assert IceTable(os.path.join(store, "pts")).merged_column_stats()["n_rows"] == 15


@pytest.mark.parametrize(
    "where",
    [
        "eventid < 5",
        "INTERSECTS(geom, POLYGON((-500 -500, 4500 -500, 4500 4500, "
        "-500 4500, -500 -500)))",
    ],
    ids=["attribute", "polygon"],
)
def test_query_delete_failed_publish_keeps_the_pre_delete_rows(
    spark, tmp_path, monkeypatch, where
):
    """The delete snapshot's publish (the version-hint swap) fails: the
    type still reads every pre-delete row, and a retry deletes them."""
    from geowave_spark.sources import icetable

    store = _tiny_store(spark, str(tmp_path))
    real_replace = icetable.os.replace

    def crash(src, dst, *a, **kw):
        if os.path.basename(dst) == "version-hint.text":
            raise OSError("simulated crash before publish")
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(icetable.os, "replace", crash)
    with pytest.raises(OSError, match="simulated crash"):
        run(["query", store, f"DELETE FROM pts WHERE {where}"])
    monkeypatch.undo()
    assert _stored_ids(store) == list(range(20))
    rc, out = run(["query", store, f"DELETE FROM pts WHERE {where}"])
    assert rc == 0 and "deleted 5 rows from 'pts'" in out
    assert _stored_ids(store) == list(range(5, 20))


def test_write_crashed_before_publish_is_reclaimed_by_the_next_write(
    spark, tmp_path, monkeypatch
):
    """A CLI write that crashes at the version-hint swap leaves a data
    dir no snapshot names. The next write on the type reclaims it once
    it is older than the grace period, keeps a younger one (it may be
    an in-flight write), and the type reads its rows."""
    import time

    from geowave_spark.sources import icetable

    store = _tiny_store(spark, str(tmp_path))
    data = os.path.join(store, "pts", "data")
    real_replace = icetable.os.replace

    def crash(src, dst, *a, **kw):
        if os.path.basename(dst) == "version-hint.text":
            raise OSError("simulated crash before publish")
        return real_replace(src, dst, *a, **kw)

    orphans = []
    for _ in range(2):
        before = set(os.listdir(data))
        monkeypatch.setattr(icetable.os, "replace", crash)
        with pytest.raises(OSError, match="simulated crash"):
            run(["query", store, "DELETE FROM pts WHERE eventid < 5"])
        monkeypatch.undo()
        (new,) = set(os.listdir(data)) - before
        orphans.append(os.path.join(data, new))
    aged, young = orphans
    old = time.time() - 2 * icetable.ORPHAN_GRACE_S
    os.utime(aged, (old, old))

    rc, out = run(["query", store, "DELETE FROM pts WHERE eventid >= 15"])
    assert rc == 0 and "deleted 5 rows from 'pts'" in out
    assert not os.path.exists(aged) and os.path.isdir(young)
    assert _stored_ids(store) == list(range(15))


def test_query_result_streams_in_blocks(spark, tmp_path, monkeypatch):
    """`query` prints its result block by block through toLocalIterator;
    a toPandas of the whole result would hold all of it on the driver."""
    store = _tiny_store(spark, str(tmp_path))

    def collect_all(self):
        raise AssertionError("toPandas collects the whole result")

    monkeypatch.setattr(type(spark.range(1)), "toPandas", collect_all)
    assert _stored_ids(store) == list(range(20))
    monkeypatch.setattr(cli, "_EMIT_BLOCK_ROWS", 7)  # 20 rows: 3 blocks
    rc, out = run(["query", store, "SELECT eventid, x_u FROM pts"])
    assert rc == 0 and out.count("eventid") == 1 and "(20 rows)" in out
    assert sorted(int(ln.split()[0]) for ln in out.splitlines()[1:-1]) == list(
        range(20)
    )


def test_query_output_of_many_partitions_runs_few_jobs(spark):
    """Streaming costs no Spark job per partition: 200 small partitions
    print in a handful of jobs (a per-partition local iterator runs 200
    single-task jobs one after another)."""
    import time

    sc, group = spark.sparkContext, "cli-emit-jobs"
    buf = io.StringIO()
    sc.setJobGroup(group, group)
    try:
        cli._emit(spark.range(0, 2000, numPartitions=200), "csv", None, out=buf)
        sc.setJobGroup(group + "-probe", group)  # events arrive in order
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(group + "-probe"):
            break
        time.sleep(0.05)
    assert buf.getvalue().splitlines() == ["id", *map(str, range(2000))]
    assert 1 <= len(tracker.getJobIdsForGroup(group)) <= 8


def test_query_blocks_print_each_column_alike(spark, tmp_path, monkeypatch):
    """A block holding a null or a wider value prints its columns the
    way the blocks before it did: integers stay integers, floats keep
    their own digits, and a console column never narrows."""
    store = str(tmp_path)
    _commit(store, "t", spark.createDataFrame(
        [(1, 1, 0.5), (2, 2, 0.25), (3, 3, 1.0),
         (4, None, 2.0), (5, 5, None), (6, 123456789, 3.0)],
        "id int, v bigint, f double",
    ).coalesce(1))
    monkeypatch.setattr(cli, "_EMIT_BLOCK_ROWS", 3)
    stmt = "SELECT id, v, f FROM t"

    rc, out = run(["query", store, stmt, "--format", "csv"])
    assert rc == 0 and out.splitlines() == [
        "id,v,f", "1,1,0.5", "2,2,0.25", "3,3,1.0",
        "4,,2.0", "5,5,", "6,123456789,3.0",
    ]
    rc, out = run(["query", store, stmt])
    lines = out.splitlines()
    assert rc == 0 and lines[-1] == "(6 rows)"
    assert [ln.split() for ln in lines[1:-1]] == [
        ["1", "1", "0.5"], ["2", "2", "0.25"], ["3", "3", "1.0"],
        ["4", "NULL", "2.0"], ["5", "5", "NULL"], ["6", "123456789", "3.0"],
    ]
    first, second = lines[:4], lines[4:-1]
    assert len({len(ln) for ln in first}) == 1
    assert len({len(ln) for ln in second}) == 1
    assert len(second[0]) >= len(first[0])


def test_query_prints_timestamps_in_the_session_time_zone(
    spark, tmp_path, monkeypatch
):
    """Rows fetched one by one carry host-zone datetimes; the printed
    value is the UTC session's wall clock, whatever the host zone."""
    import time

    store = str(tmp_path)
    _commit(store, "evt", spark.sql(
        "SELECT 1 AS eventid, 0L AS x_u, 0L AS y_u, "
        "TIMESTAMP '2020-01-01 00:00:00.5' AS ts"
    ))
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rc, out = run(["query", store, "SELECT ts FROM evt", "--format", "csv"])
    finally:
        monkeypatch.undo()
        time.tzset()
    assert rc == 0 and out.splitlines() == ["ts", "2020-01-01 00:00:00.500"]


def test_type_rm(store):
    rc, out = run(["type", "rm", store, "gdelt"])
    assert rc == 0
    assert not os.path.exists(os.path.join(store, "gdelt"))
    rc, out = run(["type", "list", store])
    assert "gdelt" not in out
    rc, _ = run(["type", "rm", store, "nope"])
    assert rc == 1 and not os.path.exists(os.path.join(store, "nope"))


def test_export_avro_roundtrip(store, spark, tmp_path):
    """export → read_avro is the identity on the parsed rows
    (ingest ∘ export round trip through the from-scratch codec)."""
    out = str(tmp_path / "tdrive.avro")
    rc, msg = run(["export", store, "tdrive", "--out", out])
    assert rc == 0 and "exported 1000 rows" in msg
    from geowave_spark.sources.avro import avro_read, read_avro

    schema, recs = avro_read(open(out, "rb").read())
    assert len(recs) == 1000
    names = [f["name"] for f in schema["fields"]]
    assert names[:2] == ["taxiid", "pointinstance"]
    # spot-check against the stored table (timestamps = epoch micros)
    df = (
        IceTable(os.path.join(store, "tdrive")).read(spark)
        .orderBy("taxiid", "pointinstance")
        .limit(1)
        .collect()[0]
    )
    first = min(recs, key=lambda r: (r["taxiid"], r["pointinstance"]))
    assert first["taxiid"] == df["taxiid"]
    assert first["x_u"] == df["x_u"]
    assert first["Timestamp"] == int(df["Timestamp"].timestamp() * 1e6)
    # and the Spark reader loads the exported container distributed
    back = read_avro(spark, out)
    assert back.count() == 1000


def test_export_geojson_with_cql(store, spark, tmp_path):
    out = str(tmp_path / "t.geojson")
    rc, msg = run(
        ["export", store, "tdrive", "--format", "geojson", "--out", out,
         "--cql", "taxiid < 5.0"]
    )
    assert rc == 0
    from geowave_spark.sources import formats as FM

    df = FM.read_geojson(spark, str(tmp_path)).toPandas()
    want = (
        IceTable(os.path.join(store, "tdrive")).read(spark)
        .where("taxiid < 5.0")
        .count()
    )
    assert 0 < len(df) == want < 1000
    assert (df["gtype"] == "Point").all()
    assert (df["props"].map(lambda p: float(p["taxiid"]) < 5)).all()


def test_analytic_kde_and_kmeans(store):
    rc, msg = run(
        ["analytic", "kde", store, "tdrive", "--out-type", "heat", "--level", "6"]
    )
    assert rc == 0 and "rows into type 'heat'" in msg
    rc, out = run(["type", "list", store])
    assert "heat" in out and "analytic:kde" in out
    rc, msg = run(
        ["analytic", "kmeans", store, "tdrive", "--out-type", "km", "--k", "4"]
    )
    assert rc == 0 and msg.count("center ") == 4
    rc, out = run(["query", store, "SELECT count(*) AS n FROM km",
                   "--format", "csv"])
    assert rc == 0
    # clustered output keeps every input row
    assert out.strip().splitlines()[1] == "1000"


def test_analytic_nn_and_dbscan(tmp_path_factory, spark):
    """nn/dbscan verbs over a fresh gdelt store (unique eventid key)."""
    src = FM.formats_fixture_dir(SF)
    st = str(tmp_path_factory.mktemp("an_store"))
    rc, _ = run(["ingest", "localtogw", src, st, "--formats", "gdelt"])
    assert rc == 0
    rc, msg = run(
        ["analytic", "nn", st, "gdelt", "--out-type", "nn3",
         "--max-dist-u", "4000000", "--k", "3", "--key", "eventid"]
    )
    assert rc == 0 and "rows into type 'nn3'" in msg
    nn = IceTable(os.path.join(st, "nn3")).read(spark).toPandas()
    assert set(nn.columns) >= {"a_id", "b_id", "rank"}
    assert (nn.groupby("a_id")["rank"].max() <= 3).all()
    rc, msg = run(
        ["analytic", "dbscan", st, "gdelt", "--out-type", "clusters",
         "--eps-u", "1500000", "--min-pts", "3", "--key", "eventid"]
    )
    assert rc == 0
    cl = IceTable(os.path.join(st, "clusters")).read(spark).toPandas()
    assert {"cluster", "is_core"} <= set(cl.columns)
    assert cl["cluster"].notna().any()  # the hotspot clusters exist


def test_export_shapefile_roundtrip(store, spark, tmp_path):
    """export --format shapefile → read_shapefile recovers every point
    and its attributes through the from-scratch .shp/.dbf codec."""
    out = str(tmp_path / "td.shp")
    rc, msg = run(
        ["export", store, "tdrive", "--format", "shapefile", "--out", out,
         "--cql", "taxiid < 2.0"]
    )
    assert rc == 0
    from geowave_spark.sources.shapefile import read_shapefile

    df = read_shapefile(spark, str(tmp_path)).toPandas()
    want = (
        IceTable(os.path.join(store, "tdrive")).read(spark)
        .where("taxiid < 2.0")
        .toPandas()
    )
    assert len(df) == len(want) > 0
    assert (df["shape_type"] == 1).all()
    # attributes survive (dBase numeric text)
    taxis = sorted({float(a["taxiid"]) for a in df["attrs"]})
    assert taxis == sorted(want["taxiid"].unique())
    # geometry: decode one point and match a stored row
    from geowave_spark.geom.wkb import wkb_loads

    g = wkb_loads(bytes(df["geometry"].iloc[0]))
    x = g.parts[0][0][0]
    assert any(abs(want["Longitude"] - x) < 1e-9)


@pytest.mark.parametrize("fmt", ["avro", "geojson", "shapefile"])
def test_export_of_many_partitions_runs_few_jobs(spark, tmp_path, monkeypatch, fmt):
    """Export reads its rows in runs of partitions, not one job per
    partition: a type of 200 small partitions exports in a handful of
    jobs (a per-partition local iterator runs 200 one after another)."""
    import time

    df = spark.range(0, 2000, numPartitions=200).selectExpr(
        "id", "id * 1000 AS x_u", "id * 500 AS y_u"
    )

    class Store:
        def type(self, name):
            return df

    _commit(str(tmp_path), "t", df.limit(1))
    monkeypatch.setattr(cli, "_datastore", lambda spark, store: Store())
    out = str(tmp_path / f"t.{fmt}")
    sc, group = spark.sparkContext, f"cli-export-jobs-{fmt}"
    sc.setJobGroup(group, group)
    try:
        rc, msg = run(["export", str(tmp_path), "t", "--format", fmt, "--out", out])
        sc.setJobGroup(group + "-probe", group)  # events arrive in order
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(200):
        if tracker.getJobIdsForGroup(group + "-probe"):
            break
        time.sleep(0.05)
    assert rc == 0 and "exported 2000 rows" in msg
    assert 1 <= len(tracker.getJobIdsForGroup(group)) <= 8
