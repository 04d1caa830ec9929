"""GWQL statement surface (plans/gwql.py) — parser semantics ported
from the reference's GWQLParserTest / GWQLSelectTest
(core/geotime/src/test/java/.../store/query/gwql/GWQLParserTest.java,
core/store grammar GWQL.g4) and end-to-end equivalence against
hand-built DataFrame plans on the sf0.001 fixtures."""

import pytest
from pyspark.sql import functions as F

from geowave_spark.api import DataStore
from geowave_spark.plans.gwql import (
    GWQLParseException,
    compile_filter,
    parse_statement,
)
from geowave_spark.sources.testgeo import events_points


# ------------------------------------------------------------- parsing


def test_select_star_and_limit():
    s = parse_statement("SELECT * FROM type LIMIT 7;")
    assert s.kind == "select" and s.table == "type"
    assert s.selectors == [] and s.limit == 7 and s.where is None


def test_column_selectors_with_alias():
    s = parse_statement("SELECT a, b AS bee FROM t")
    assert [x.name for x in s.selectors] == ["a", "bee"]
    assert [x.column for x in s.selectors] == ["a", "b"]


def test_aggregate_selectors():
    s = parse_statement("SELECT COUNT(*), SUM(pop) AS total, BBOX(geom) FROM t")
    assert [x.agg_fn for x in s.selectors] == ["COUNT", "SUM", "BBOX"]
    assert [x.name for x in s.selectors] == ["count(*)", "total", "bbox(geom)"]


def test_mixed_selectors_raise():
    with pytest.raises(GWQLParseException):
        parse_statement("SELECT a, COUNT(*) FROM t")


def test_scientific_notation_literals_parse():
    # 1e-3 / 2E+4 / 5e2 are single number tokens (the old pattern only
    # allowed an exponent after a decimal point, so '1e-3' tokenized as
    # ['1','e','-','3'] and failed with a misleading error)
    s = parse_statement("SELECT * FROM t WHERE a < 1e-3 AND b > 2E+4 AND c = 5e2")

    def nums(node, out):
        if isinstance(node, tuple):
            if node[0] == "num":
                out.append(float(node[1]))
            for part in node[1:]:
                nums(part, out)
        elif isinstance(node, list):
            for part in node:
                nums(part, out)
        return out

    assert nums(s.where, []) == [1e-3, 2e4, 5e2]


def test_bbox_aggregate_rejects_unbound_geometry_column(spark):
    from geowave_spark.plans.gwql import _agg_column

    s = parse_statement("SELECT BBOX(other_geom) FROM t")
    with pytest.raises(GWQLParseException, match="other_geom"):
        _agg_column(s.selectors[0], "x_u", "y_u")
    # the bound pseudo-column and the wildcard both stay valid
    for ok in ("SELECT BBOX(geom) FROM t", "SELECT BBOX(*) FROM t"):
        _agg_column(parse_statement(ok).selectors[0], "x_u", "y_u")


def test_unknown_aggregate_raises():
    with pytest.raises(GWQLParseException):
        parse_statement("SELECT AVG(a) FROM t")


def test_delete_statement():
    s = parse_statement("DELETE FROM t WHERE a = 1")
    assert s.kind == "delete" and s.where is not None


def test_parse_error_reports_position():
    with pytest.raises(GWQLParseException):
        parse_statement("SELECT FROM t")
    with pytest.raises(GWQLParseException):
        parse_statement("SELECT * FROM t WHERE a = ")
    with pytest.raises(GWQLParseException):
        parse_statement("SELECT * FROM t trailing garbage")


def test_escaped_identifiers():
    s = parse_statement('SELECT "weird col" AS w FROM t WHERE `other``x` = 1')
    assert s.selectors[0].column == "weird col"
    plan = compile_filter(s.where)
    assert plan.residual == ["(`other`x` = 1)"] or "`" in plan.residual[0]


# -------------------------------------------- filter → constraint split


def test_bbox_becomes_constraint():
    s = parse_statement(
        "SELECT * FROM t WHERE BBOX(geom, -10, -20, 30, 40) AND a < 5"
    )
    plan = compile_filter(s.where)
    assert plan.bbox == (-10, -20, 30, 40)
    assert plan.residual == ["(a < 5)"]


def test_intersects_cast_and_bare_wkt_equivalent():
    for g in ("'POLYGON((0 0, 10 0, 5 8, 0 0))'::geometry",
              "POLYGON((0 0, 10 0, 5 8, 0 0))"):
        plan = compile_filter(
            parse_statement(f"SELECT * FROM t WHERE INTERSECTS(geom, {g})").where
        )
        assert plan.geometry is not None
        assert plan.geom_predicate == "intersects"


def test_during_interval_constraint():
    plan = compile_filter(
        parse_statement(
            "SELECT * FROM t WHERE ts DURING '2024-01-01T00:00:00/2024-02-01T00:00:00'"
        ).where
    )
    assert plan.time == ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    assert plan.time_col == "ts"


def test_temporal_operator_sql_forms():
    cases = {
        "ts AFTER '2024-01-05'": "ts > TIMESTAMP '2024-01-05'",
        "ts AFTER '2024-01-01/2024-01-05'": "ts >= TIMESTAMP '2024-01-05'",
        "ts BEFORE '2024-01-05'": "ts < TIMESTAMP '2024-01-05'",
        "ts BEFORE '2024-01-01/2024-01-05'": "ts < TIMESTAMP '2024-01-01'",
        "ts DURING_OR_AFTER '2024-01-01/2024-01-05'": "ts >= TIMESTAMP '2024-01-01'",
        "ts BEFORE_OR_DURING '2024-01-01/2024-01-05'": "ts < TIMESTAMP '2024-01-05'",
    }
    for text, want in cases.items():
        plan = compile_filter(
            parse_statement(f"SELECT * FROM t WHERE {text} OR EXCLUDE").where
        )
        assert want in plan.residual[0], (text, plan.residual)


def test_dwithin_constraint_and_beyond():
    plan = compile_filter(
        parse_statement(
            "SELECT * FROM t WHERE DWITHIN(geom, POINT(5 -7), 100)"
        ).where
    )
    assert plan.dwithin == (5, -7, 100, True)
    plan = compile_filter(
        parse_statement(
            "SELECT * FROM t WHERE BEYOND(geom, POINT(5 -7), 100)"
        ).where
    )
    assert plan.dwithin == (5, -7, 100, False)


def test_or_degrades_bbox_to_residual_sql():
    plan = compile_filter(
        parse_statement(
            "SELECT * FROM t WHERE BBOX(geom, 0, 0, 9, 9) OR a = 1"
        ).where
    )
    assert plan.bbox is None
    assert "x_u BETWEEN 0 AND 9" in plan.residual[0]


def test_polygon_under_or_raises():
    with pytest.raises(GWQLParseException):
        compile_filter(
            parse_statement(
                "SELECT * FROM t WHERE WITHIN(geom, POLYGON((0 0, 1 0, 1 1, 0 0))) OR a = 1"
            ).where
        )


def test_include_exclude_and_not():
    plan = compile_filter(parse_statement("SELECT * FROM t WHERE INCLUDE").where)
    assert plan.residual == ["TRUE"]
    plan = compile_filter(
        parse_statement("SELECT * FROM t WHERE NOT [a = 1]").where
    )
    assert plan.residual == ["(NOT (a = 1))"]


def test_expression_arithmetic_and_casts():
    plan = compile_filter(
        parse_statement(
            "SELECT * FROM t WHERE ABS(a - 3) * 2 > 4 AND b::number <= 1.5 "
            "AND CONCAT(c, 'x') = 'yx' AND d IS NULL AND e BETWEEN -2 AND 2"
        ).where
    )
    assert plan.residual == [
        "((abs((a - 3)) * 2) > 4)",
        "(CAST(b AS DOUBLE) <= 1.5)",
        "(concat(c, 'x') = 'yx')",
        "(d IS NULL)",
        "(e BETWEEN -2 AND 2)",
    ]


def test_geometry_cast_outside_spatial_predicate_raises():
    with pytest.raises(GWQLParseException):
        compile_filter(
            parse_statement("SELECT * FROM t WHERE 'POINT(0 0)'::geometry = 1").where
        )


# ------------------------------------------------------------ execution


@pytest.fixture(scope="module")
def store(spark, sf_dir):
    ds = DataStore(spark)
    ds.add_type("events", events_points(spark, sf_dir))
    return ds


BBOX = (-100_000_000, -40_000_000, 100_000_000, 40_000_000)


def test_select_matches_manual_plan(store, spark, sf_dir):
    x0, y0, x1, y1 = BBOX
    got = store.gwql(
        f"SELECT event_id FROM events "
        f"WHERE BBOX(geom, {x0}, {y0}, {x1}, {y1}) "
        f"AND value BETWEEN 10 AND 90 AND ts AFTER '2024-01-05'"
    )
    pts = events_points(spark, sf_dir)
    want = pts.where(
        F.col("x_u").between(x0, x1)
        & F.col("y_u").between(y0, y1)
        & F.col("value").between(10, 90)
        & (F.col("ts") > F.expr("TIMESTAMP '2024-01-05'"))
    ).select("event_id")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_select_or_filter_exact(store, spark, sf_dir):
    got = store.gwql(
        "SELECT event_id FROM events "
        "WHERE BBOX(geom, -5000000, -5000000, 5000000, 5000000) "
        "OR DWITHIN(geom, POINT(100000000 0), 3000000)"
    )
    pts = events_points(spark, sf_dir)
    dx = F.col("x_u").cast("long") - 100_000_000
    dy = F.col("y_u").cast("long")
    want = pts.where(
        (F.col("x_u").between(-5_000_000, 5_000_000)
         & F.col("y_u").between(-5_000_000, 5_000_000))
        | (dx * dx + dy * dy <= 3_000_000 ** 2)
    )
    assert got.count() == want.count() > 0


def test_aggregate_select(store, spark, sf_dir):
    row = store.gwql(
        "SELECT COUNT(*) AS n, SUM(value) AS sv, MIN(ts) AS t0, "
        "MAX(value) AS mv, BBOX(geom) AS env FROM events "
        "WHERE BBOX(geom, -100000000, -40000000, 100000000, 40000000)"
    ).first()
    x0, y0, x1, y1 = BBOX
    want = (
        events_points(spark, sf_dir)
        .where(F.col("x_u").between(x0, x1) & F.col("y_u").between(y0, y1))
        .agg(
            F.count("*").alias("n"), F.sum("value").alias("sv"),
            F.min("ts").alias("t0"), F.max("value").alias("mv"),
            F.min("x_u").alias("minx"), F.min("y_u").alias("miny"),
            F.max("x_u").alias("maxx"), F.max("y_u").alias("maxy"),
        ).first()
    )
    assert row["n"] == want["n"] > 0
    assert row["sv"] == want["sv"] and row["t0"] == want["t0"]
    assert row["mv"] == want["mv"]
    assert row["env"]["minx"] == want["minx"] and row["env"]["maxy"] == want["maxy"]


def test_select_limit(store):
    assert store.gwql("SELECT event_id FROM events LIMIT 13").count() == 13


def test_unknown_type_raises(store):
    with pytest.raises(GWQLParseException):
        store.gwql("SELECT * FROM nope")


def test_delete_roundtrip(spark, sf_dir):
    ds = DataStore(spark)
    ds.add_type("ev_del", events_points(spark, sf_dir))
    before = ds.type("ev_del").count()
    matched = ds.gwql(
        "SELECT event_id FROM ev_del WHERE value < 10 "
        "AND ts BEFORE '2024-01-03'"
    ).count()
    removed = ds.gwql(
        "DELETE FROM ev_del WHERE value < 10 AND ts BEFORE '2024-01-03'"
    )
    assert removed == matched > 0
    after = ds.type("ev_del").count()
    assert after == before - removed
    # view refreshed: SQL over the type name sees the post-delete table
    assert spark.sql("SELECT COUNT(*) c FROM ev_del").first()["c"] == after


def test_delete_routes_to_snapshot_store(spark, sf_dir, tmp_path):
    """A snapshot-store-backed type routes GWQL DELETE through
    IceTable.delete_where (copy-on-write, durable) instead of the
    in-memory anti-join; the view refreshes to the post-delete
    snapshot and the store's snapshot log records the delete."""
    from geowave_spark.sources.icetable import IceTable

    t = IceTable(str(tmp_path / "ev"))
    t.commit_write(
        events_points(spark, sf_dir), mode="overwrite", stats_cols=["x_u", "y_u"]
    )
    ds = DataStore(spark)
    ds.add_snapshot_type("ev_snap", t)
    before = t.read(spark).count()
    expect = t.read(spark).where(
        "x_u BETWEEN -60000000 AND 70000000 "
        "AND y_u BETWEEN -40000000 AND 55000000 AND value < 20"
    ).count()
    removed = ds.gwql(
        "DELETE FROM ev_snap WHERE "
        "BBOX(geom, -60000000, -40000000, 70000000, 55000000) AND value < 20"
    )
    assert removed == expect > 0
    assert t.snapshots()[-1]["operation"] == "delete"
    assert t.read(spark).count() == before - removed
    # the registered view follows the new snapshot
    assert (
        spark.sql("SELECT COUNT(*) c FROM ev_snap").first()["c"]
        == before - removed
    )
    # a polygon has no (ranges, predicate) form: it deletes by key, and
    # exactly the rows the same SELECT returns
    where = (
        "INTERSECTS(geom, POLYGON((-120000000 -30000000, 120000000 -30000000, "
        "0 45000000, -120000000 -30000000)))"
    )
    left = t.read(spark).count()
    hit = {r.event_id for r in ds.gwql(f"SELECT event_id FROM ev_snap WHERE {where}").collect()}
    assert ds.gwql(f"DELETE FROM ev_snap WHERE {where}") == len(hit) > 0
    assert t.snapshots()[-1]["operation"] == "delete"
    assert t.read(spark).count() == left - len(hit)


def test_select_polygon_refine_matches_cql(store, spark, sf_dir):
    wkt = ("POLYGON((-120000000 -30000000, 120000000 -30000000, "
           "0 45000000, -120000000 -30000000))")
    got = store.gwql(f"SELECT event_id FROM events WHERE INTERSECTS(geom, {wkt})")
    want = store.cql("events", f"INTERSECTS(geom, {wkt})").select("event_id")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want.select("event_id")).count() == 0


def test_toverlaps_tcontains_render():
    plan = compile_filter(
        parse_statement(
            "SELECT * FROM t WHERE TOVERLAPS(ts, '2024-01-01/2024-02-01') "
            "OR TCONTAINS(ts, '2024-01-05')"
        ).where
    )
    r = plan.residual[0]
    assert "ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'" in r
    assert "ts <= TIMESTAMP '2024-01-05'" in r


def test_bboxloose_constraint_and_residual():
    plan = compile_filter(
        parse_statement(
            "SELECT * FROM t WHERE BBOXLOOSE(geom, -100, -50, 100, 50, 6)"
        ).where
    )
    from geowave_spark.operators.spatial_query import loose_bounds

    bx = loose_bounds(-100, 100, 6)
    by = loose_bounds(-50, 50, 6)
    assert plan.bbox == (bx[0], by[0], bx[1], by[1])
    # under OR: rendered residually with default res 16
    plan = compile_filter(
        parse_statement(
            "SELECT * FROM t WHERE BBOXLOOSE(geom, -100, -50, 100, 50) OR a = 1"
        ).where
    )
    assert plan.bbox is None and "BETWEEN" in plan.residual[0]


def test_gwql_bboxloose_matches_engine_loose_query(store, spark, sf_dir):
    from geowave_spark.operators.spatial_query import bbox_query_loose

    x0, y0, x1, y1 = BBOX
    got = store.gwql(
        f"SELECT event_id FROM events WHERE BBOXLOOSE(geom, {x0}, {y0}, {x1}, {y1}, 6)"
    )
    want = bbox_query_loose(
        events_points(spark, sf_dir), x0, y0, x1, y1, 6
    ).select("event_id")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_toverlaps_matches_during_on_instants(store):
    a = store.gwql(
        "SELECT event_id FROM events "
        "WHERE TOVERLAPS(ts, '2024-01-05/2024-01-20')"
    )
    b = store.gwql(
        "SELECT event_id FROM events WHERE ts DURING '2024-01-05/2024-01-20'"
    )
    assert a.count() == b.count() > 0


# ---------------------------------------------------- property testing


from hypothesis import given, settings
from hypothesis import strategies as st

# random well-formed predicate templates exercising every filter shape
_PRED_TEMPLATES = [
    lambda n: f"c{n} = {n}",
    lambda n: f"c{n} <> 'a''b{n}'",
    lambda n: f"c{n} BETWEEN -{n + 1} AND {n + 2}",
    lambda n: f"c{n} IS NOT NULL",
    lambda n: f"ABS(c{n} - 3) * 2 > {n}",
    lambda n: f"strContains(c{n}, 'x{n}')",
    lambda n: f"ts AFTER '2024-01-0{(n % 8) + 1}'",
    lambda n: f"c{n}::number <= 1.5",
    lambda n: f"NOT (c{n} < {n})",
    lambda n: f"(c{n} = 1 OR c{n} = 2)",
]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, len(_PRED_TEMPLATES) - 1), min_size=1, max_size=6))
def test_gwql_conjunct_roundtrip_property(idxs):
    """Every top-level AND conjunct survives parse → compile as ONE
    residual entry (no splits inside BETWEEN/parens/strings, no
    reordering, no constraint misfires), always renderable SQL."""
    parts = [_PRED_TEMPLATES[k](n) for n, k in enumerate(idxs)]
    plan = compile_filter(parse_statement(
        "SELECT * FROM t WHERE " + " AND ".join(parts)
    ).where)
    assert plan.bbox is None and plan.geometry is None
    assert len(plan.residual) == len(parts)
    for sql in plan.residual:
        assert sql  # non-empty rendered text


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(0, len(_PRED_TEMPLATES) - 1), min_size=1, max_size=4),
    st.integers(0, 4),
)
def test_gwql_constraint_any_position_property(idxs, pos):
    """BBOX + interval-DURING constraints extract from ANY position in
    the AND chain; residual count is exactly the template count."""
    parts = [_PRED_TEMPLATES[k](n) for n, k in enumerate(idxs)]
    pos = min(pos, len(parts))
    spatial = [
        "BBOX(geom, -5, -6, 7, 8)",
        "ts2 DURING '2024-01-01T00:00:00/2024-02-01T00:00:00'",
    ]
    mixed = parts[:pos] + spatial + parts[pos:]
    plan = compile_filter(parse_statement(
        "SELECT * FROM t WHERE " + " AND ".join(mixed)
    ).where)
    assert plan.bbox == (-5, -6, 7, 8)
    assert plan.time == ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    assert plan.time_col == "ts2"
    assert len(plan.residual) == len(parts)


# ------------------------------- statistics-answered aggregations


@pytest.fixture()
def snap_store(spark, sf_dir, tmp_path):
    from geowave_spark.sources.icetable import IceTable

    t = IceTable(str(tmp_path / "ev"))
    t.commit_write(
        events_points(spark, sf_dir),
        mode="overwrite",
        stats_cols=["x_u", "y_u", "value", "event_id"],
    )
    ds = DataStore(spark)
    ds.add_snapshot_type("ev_snap", t)
    return ds, t


def test_stats_answered_aggregates_match_scan(snap_store, spark, sf_dir):
    """Unfiltered COUNT(*)/MIN/MAX/BBOX on a snapshot-backed type are
    answered from the manifest's folded footer stats — values AND
    schema identical to the scan path (BaseDataStore consulting
    CountStatistic / FieldMinMax / BoundingBoxStatistic before
    scanning)."""
    ds, t = snap_store
    q = (
        "SELECT COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi, "
        "MIN(x_u) AS x0, BBOX(geom) AS env FROM ev_snap"
    )
    got = ds.gwql(q)
    pts = events_points(spark, sf_dir)
    want = pts.agg(
        F.count("*").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.min("x_u").alias("x0"),
        F.struct(
            F.min("x_u").alias("minx"), F.min("y_u").alias("miny"),
            F.max("x_u").alias("maxx"), F.max("y_u").alias("maxy"),
        ).alias("env"),
    )
    # dtype-exact vs the scan path (nullability differs: literals are
    # provably non-null, Spark marks aggregates nullable)
    assert got.schema.simpleString() == want.schema.simpleString()
    assert got.collect() == want.collect()
    # INCLUDE is the same trivially-true filter
    assert (
        ds.gwql("SELECT COUNT(*) AS n FROM ev_snap WHERE INCLUDE").first()["n"]
        == pts.count()
    )


def test_stats_answer_is_metadata_only(snap_store, spark):
    """Proof of no data scan: delete every data file after the commit —
    the stats-answered aggregate still returns (it never lists or reads
    data), while a scan-path query fails."""
    import os

    ds, t = snap_store
    n = ds.gwql("SELECT COUNT(*) AS n FROM ev_snap").first()["n"]
    for fi in t.files():
        os.remove(fi["path"])
    assert ds.gwql("SELECT COUNT(*) AS n FROM ev_snap").first()["n"] == n
    assert (
        ds.gwql("SELECT MIN(value) AS lo, MAX(value) AS hi FROM ev_snap").count()
        == 1
    )


def test_stats_answer_fallbacks(snap_store, spark, sf_dir):
    """Every soundness gate falls back to the scan path: WHERE with a
    real filter, COUNT(col), MIN of a string column, and pending
    merge-on-read deletes."""
    from geowave_spark.plans.gwql import _stats_select, parse_statement

    ds, t = snap_store
    pts = events_points(spark, sf_dir)

    # residual WHERE: scanned, and correct
    got = ds.gwql("SELECT COUNT(*) AS n FROM ev_snap WHERE value < 50").first()
    assert got["n"] == pts.where("value < 50").count()

    # non-star COUNT / string MIN / unknown col: _stats_select declines
    for q in (
        "SELECT COUNT(value) AS n FROM ev_snap",
        "SELECT MIN(event_type) AS m FROM ev_snap",
        "SELECT MIN(no_such) AS m FROM ev_snap",
        "SELECT SUM(value) AS s FROM ev_snap",
    ):
        assert _stats_select(ds, parse_statement(q)) is None

    # pending MoR delete: footer counts overcount -> decline, scan wins
    keys = t.read(spark).where("value < 10").select("event_id")
    deleted, _ = t.delete_keys(keys, "event_id", mode="mor")
    assert deleted > 0
    assert _stats_select(ds, parse_statement("SELECT COUNT(*) AS n FROM ev_snap")) is None
    ds._refresh_snapshot_view("ev_snap") if hasattr(ds, "_refresh_snapshot_view") else None
    got = ds.gwql("SELECT COUNT(*) AS n FROM ev_snap").first()["n"]
    # the scan path applies the live equality delete
    assert got == pts.count() - deleted or got == pts.count()


# --------------------------------------- geodesic DWITHIN ('meters')


def test_gwql_dwithin_units_compile():
    from geowave_spark.plans.gwql import compile_filter

    s = parse_statement(
        "SELECT * FROM t WHERE DWITHIN(geom, POINT(10 20), 5, 'kilometers')"
    )
    p = compile_filter(s.where)
    assert p.dwithin is None and p.dwithin_geo == (10, 20, 5000.0, True)
    with pytest.raises(GWQLParseException, match="units"):
        compile_filter(
            parse_statement(
                "SELECT * FROM t WHERE DWITHIN(geom, POINT(10 20), 5, 'feet')"
            ).where
        )


def test_gwql_dwithin_meters_matches_cql(store, spark, sf_dir):
    px, py, r = 20_000_000, 70_000_000, 2_000_000
    got = store.gwql(
        f"SELECT event_id FROM events "
        f"WHERE DWITHIN(geom, POINT({px} {py}), {r}, 'meters')"
    )
    from geowave_spark.plans.cql import cql_filter

    want = cql_filter(
        events_points(spark, sf_dir),
        f"DWITHIN(geom, POINT({px} {py}), {r}, 'meters')",
    ).select("event_id")
    g = {x["event_id"] for x in got.collect()}
    w = {x["event_id"] for x in want.collect()}
    assert g == w and len(g) > 0


def test_gwql_dwithin_meters_residual_or(store, spark, sf_dir):
    """A top-level OR degrades the whole filter to residual SQL — the
    geodesic predicate must render to native Spark SQL (haversine text)
    and match the brute union."""
    from geowave_spark.operators.geodesic import haversine_m

    px, py, r = 20_000_000, 70_000_000, 2_000_000
    got = store.gwql(
        f"SELECT event_id FROM events WHERE "
        f"DWITHIN(geom, POINT({px} {py}), {r}, 'meters') OR value > 300"
    )
    pts = events_points(spark, sf_dir)
    d = haversine_m(F.lit(px), F.lit(py), F.col("x_u"), F.col("y_u"))
    want = pts.where((d <= F.lit(float(r))) | (F.col("value") > 300))
    g = {x["event_id"] for x in got.collect()}
    w = {x["event_id"] for x in want.select("event_id").collect()}
    assert g == w and len(g) > 0


def test_delete_snapshot_rejects_geodesic_dwithin(snap_store, spark):
    """Regression (named for the guard that once rejected it): DWITHIN
    with a units token compiles into plan.dwithin_geo, consumed OUT of
    the residual, so a snapshot DELETE that read only the ranges and
    residual dropped the distance constraint and deleted every row the
    remaining ranges matched. The delete now keeps the constraint: it
    removes exactly the rows within the distance, and none outside."""
    ds, t = snap_store
    where = "DWITHIN(geom, POINT(20000000 70000000), 2000000, 'meters') AND value < 200"
    rows = {r.event_id for r in t.read(spark).select("event_id").collect()}
    hit = {r.event_id for r in ds.gwql(f"SELECT event_id FROM ev_snap WHERE {where}").collect()}
    # rows the residual alone matches but the distance excludes must stay
    assert 0 < len(hit) < t.read(spark).where("value < 200").count()
    assert ds.gwql(f"DELETE FROM ev_snap WHERE {where}") == len(hit)
    assert {r.event_id for r in t.read(spark).select("event_id").collect()} == rows - hit


@pytest.mark.parametrize(
    "where",
    [
        "INTERSECTS(geom, POLYGON((-120000000 -30000000, 120000000 -30000000, "
        "0 45000000, -120000000 -30000000)))",
        "DWITHIN(geom, POINT(20000000 10000000), 30000000)",
        "DWITHIN(geom, POINT(20000000 70000000), 2000000, 'meters')",
    ],
    ids=["polygon", "dwithin", "dwithin_meters"],
)
def test_snapshot_delete_by_shape_removes_the_select_rows(snap_store, spark, where):
    """A polygon / planar DWITHIN / DWITHIN-with-units DELETE on a
    snapshot type removes exactly the rows the same-WHERE SELECT
    returns, in one copy-on-write 'delete' snapshot, and returns their
    count; the registered view follows the new snapshot."""
    ds, t = snap_store
    rows = {r.event_id for r in t.read(spark).select("event_id").collect()}
    hit = {r.event_id for r in ds.gwql(f"SELECT event_id FROM ev_snap WHERE {where}").collect()}
    assert 0 < len(hit) < len(rows)
    n_snaps = len(t.snapshots())
    assert ds.gwql(f"DELETE FROM ev_snap WHERE {where}") == len(hit)
    assert len(t.snapshots()) == n_snaps + 1
    assert t.snapshots()[-1]["operation"] == "delete"
    assert {r.event_id for r in t.read(spark).select("event_id").collect()} == rows - hit
    assert ds.gwql("SELECT event_id FROM ev_snap").count() == len(rows - hit)
    assert ds.gwql(f"SELECT event_id FROM ev_snap WHERE {where}").count() == 0


def test_gwql_sees_post_registration_commits(snap_store, spark, sf_dir):
    """Regression: the registered frame was frozen at
    add_snapshot_type while _stats_select read LIVE metadata, so a
    commit made after registration (stream ingest, direct
    commit_write) was visible to the metadata-answered COUNT but not
    to a row scan. gwql() now refreshes snapshot-backed frames, so
    both paths answer from the current snapshot."""
    from pyspark.sql import functions as F

    ds, t = snap_store
    n0 = ds.gwql("SELECT COUNT(*) AS n FROM ev_snap").first()["n"]
    extra = events_points(spark, sf_dir).limit(7).withColumn(
        "event_id", F.col("event_id") + F.lit(10_000_000)
    )
    t.commit_write(extra, mode="append", stats_cols=["x_u", "y_u", "value", "event_id"])
    # stats path (metadata) and scan path agree on the NEW snapshot
    assert ds.gwql("SELECT COUNT(*) AS n FROM ev_snap").first()["n"] == n0 + 7
    assert ds.gwql("SELECT event_id FROM ev_snap").count() == n0 + 7


def test_string_literal_with_backslash_round_trips(spark):
    """Regression: _sql_str escaped quotes but not backslashes, so a
    residual literal like 'C:\\temp' re-rendered into Spark SQL text
    where the parser consumed the backslash as an escape and the
    comparison ran against a different string."""
    from geowave_spark.api import DataStore

    ds = DataStore(spark)
    rows = [(1, "C:\\temp", 0, 0), (2, "C:/temp", 0, 0)]
    ds.add_type(
        "bs_docs",
        spark.createDataFrame(rows, "id LONG, path STRING, x_u LONG, y_u LONG"),
    )
    got = ds.gwql("SELECT id FROM bs_docs WHERE path = 'C:\\temp'").collect()
    assert [r["id"] for r in got] == [1]
