"""CQL text-filter surface (plans/cql.py) — parser + end-to-end.

Reference semantics: CQLQuery / OptimalCQLQuery extract geometry and
time constraints from the parsed ECQL filter and post-filter the rest
(core/geotime/.../query/api/OptimalCQLQuery.java:86-210)."""

import pytest
from pyspark.sql import functions as F

from geowave_spark.plans.cql import CQLPlan, cql_filter, parse_cql
from geowave_spark.sources.testgeo import events_points

BOX = (-60_000_000, -40_000_000, 70_000_000, 55_000_000)
PENTA = (
    "POLYGON((-40000000 -30000000, 50000000 -35000000, 65000000 20000000, "
    "0 48000000, -55000000 25000000, -40000000 -30000000))"
)


# ------------------------------------------------------------- parser


def test_parse_bbox_and_residuals():
    p = parse_cql(
        f"BBOX(geom, {BOX[0]}, {BOX[1]}, {BOX[2]}, {BOX[3]}) "
        "AND value BETWEEN 10 AND 90 AND event_type LIKE 'c%'"
    )
    assert p.bbox == BOX
    # the AND inside BETWEEN must NOT split the conjunct
    assert p.residual == ["value BETWEEN 10 AND 90", "event_type LIKE 'c%'"]


def test_parse_literal_and_is_not_a_boundary():
    p = parse_cql("event_type LIKE '%AND%' AND value > 5")
    assert p.residual == ["event_type LIKE '%AND%'", "value > 5"]


def test_parse_intersects_and_during():
    p = parse_cql(
        f"INTERSECTS(geom, {PENTA}) "
        "AND ts DURING 2024-01-05T00:00:00Z/2024-01-20T00:00:00"
    )
    assert p.geometry is not None and p.geometry.gtype == "Polygon"
    assert p.geom_predicate == "intersects"
    assert p.time == ("2024-01-05 00:00:00", "2024-01-20 00:00:00")
    assert p.time_col == "ts"
    assert p.residual == []


def test_parse_within_strict():
    p = parse_cql(f"WITHIN(geom, {PENTA})")
    assert p.geom_predicate == "within"


def test_top_level_or_degrades_to_residual():
    p = parse_cql("value > 5 OR value < 1")
    assert p == CQLPlan(residual=["value > 5 OR value < 1"])


def test_unsupported_spatial_op_raises():
    with pytest.raises(ValueError, match="unsupported CQL spatial"):
        parse_cql(f"DISJOINT(geom, {PENTA})")


def test_duplicate_constraints_raise():
    two = f"BBOX(geom, 0, 0, 1, 1) AND BBOX(geom, 2, 2, 3, 3)"
    with pytest.raises(ValueError, match="multiple BBOX"):
        parse_cql(two)


def test_bad_instant_raises():
    with pytest.raises(ValueError, match="instant"):
        parse_cql("ts DURING 2024-99/2025-01-01T00:00:00")


# --------------------------------------------------------- end-to-end


def test_cql_filter_matches_manual_plan(spark, sf_dir):
    pts = events_points(spark, sf_dir)
    text = (
        f"BBOX(geom, {BOX[0]}, {BOX[1]}, {BOX[2]}, {BOX[3]}) "
        "AND ts DURING 2024-01-05T00:00:00/2024-01-20T00:00:00 "
        "AND value BETWEEN 10 AND 90 AND event_type LIKE 'c%'"
    )
    got = sorted(r.event_id for r in cql_filter(pts, text).collect())
    want = sorted(
        r.event_id
        for r in pts.where(
            F.col("x_u").between(BOX[0], BOX[2])
            & F.col("y_u").between(BOX[1], BOX[3])
            & (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
            & F.col("value").between(10, 90)
            & F.col("event_type").like("c%")
        ).collect()
    )
    assert got == want and len(got) > 0


def test_cql_filter_polygon_refine(spark, sf_dir):
    from geowave_spark.operators.spatial_query import polygon_query
    from geowave_spark.geom.udfs import geom_from_wkt
    from geowave_spark.geom.wkb import wkb_loads

    pts = events_points(spark, sf_dir)
    got = sorted(
        r.event_id for r in cql_filter(pts, f"INTERSECTS(geom, {PENTA})").collect()
    )
    want = sorted(
        r.event_id
        for r in polygon_query(pts, wkb_loads(geom_from_wkt(PENTA))).collect()
    )
    assert got == want and len(got) > 0


def test_datastore_cql_facade(spark, sf_dir):
    from geowave_spark.api import DataStore

    ds = DataStore(spark)
    ds.add_type("ev_cql", events_points(spark, sf_dir), indexed=False)
    n = ds.cql("ev_cql", f"BBOX(geom, {BOX[0]}, {BOX[1]}, {BOX[2]}, {BOX[3]})").count()
    assert n > 0


# ------------------------------------------------- splitter properties

from hypothesis import given, settings
from hypothesis import strategies as st

# residual templates that each contain a splitter trap: BETWEEN's
# inner AND, AND inside string literals, CASE..AND..END, parens, IN
# lists with quoted commas/keywords
_TEMPLATES = [
    lambda i: f"v{i} BETWEEN {i} AND {i + 10}",
    lambda i: f"s{i} LIKE '%AND%{i}'",
    lambda i: f"v{i} > {i}",
    lambda i: f"(v{i} + 1) * 2 <= {i}",
    lambda i: f"CASE WHEN v{i} > 1 AND v{i} < 5 THEN 1 ELSE 0 END = {i % 2}",
    lambda i: f"s{i} IN ('a', 'b and c', 'd)e')",
]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, len(_TEMPLATES) - 1), min_size=1, max_size=6))
def test_parse_cql_residual_split_property(idxs):
    """Every conjunct must come back exactly as written — no split at
    a BETWEEN's AND, inside a literal, a CASE body, or parens."""
    parts = [_TEMPLATES[k](n) for n, k in enumerate(idxs)]
    p = parse_cql(" AND ".join(parts))
    assert p.bbox is None and p.geometry is None and p.time is None
    assert p.residual == parts


@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.integers(0, len(_TEMPLATES) - 1), min_size=1, max_size=4),
    st.integers(0, 4),
)
def test_parse_cql_constraint_position_property(idxs, pos):
    """A BBOX/DURING constraint is extracted from ANY position among
    trap-laden residual conjuncts, leaving the residuals intact."""
    parts = [_TEMPLATES[k](n) for n, k in enumerate(idxs)]
    pos = min(pos, len(parts))
    spatial = ["BBOX(geom, -5, -6, 7, 8)", "ts DURING 2024-01-01T00:00:00/2024-02-01T00:00:00"]
    mixed = parts[:pos] + spatial + parts[pos:]
    p = parse_cql(" AND ".join(mixed))
    assert p.bbox == (-5, -6, 7, 8)
    assert p.time == ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    assert p.residual == parts


# ------------------------------------------------- distance operators


def test_parse_dwithin_and_beyond():
    p = parse_cql("DWITHIN(geom, POINT(100 -200), 5000)")
    assert p.dwithin == (100, -200, 5000, True)
    # a units token switches to GREAT-CIRCLE meters (round 5; the
    # units used to be accepted-and-ignored, which misread distances)
    p = parse_cql("BEYOND(geom, POINT(-3 4), 10, meters)")
    assert p.dwithin is None and p.dwithin_geo == (-3, 4, 10.0, False)
    with pytest.raises(ValueError, match="POINT references"):
        parse_cql(f"DWITHIN(geom, {PENTA}, 5000)")


def test_cql_dwithin_beyond_partition(spark, sf_dir):
    """DWITHIN ∪ BEYOND at the same center/radius partitions the
    table exactly (boundary belongs to DWITHIN)."""
    pts = events_points(spark, sf_dir)
    n = pts.count()
    cx, cy, d = 0, 5_000_000, 70_000_000
    n_in = cql_filter(pts, f"DWITHIN(geom, POINT({cx} {cy}), {d})").count()
    n_out = cql_filter(pts, f"BEYOND(geom, POINT({cx} {cy}), {d})").count()
    assert n_in + n_out == n and n_in > 0 and n_out > 0
    # exact integer circle: matches the brute filter
    brute = pts.where(
        (F.col("x_u") - cx) * (F.col("x_u") - cx)
        + (F.col("y_u") - cy) * (F.col("y_u") - cy)
        <= d * d
    ).count()
    assert n_in == brute


# --------------------------------------- geodesic DWITHIN ('meters')


def _brute_geo(spark, sf_dir, px, py, radius_m, within=True):
    from geowave_spark.operators.geodesic import haversine_m

    d = haversine_m(F.lit(px), F.lit(py), F.col("x_u"), F.col("y_u"))
    cond = d <= F.lit(float(radius_m))
    return events_points(spark, sf_dir).where(cond if within else ~cond)


def test_parse_dwithin_units():
    p = parse_cql("DWITHIN(geom, POINT(10 20), 5000, 'meters')")
    assert p.dwithin is None and p.dwithin_geo == (10, 20, 5000.0, True)
    # kilometers scale; bare-word units token also accepted
    p2 = parse_cql("DWITHIN(geom, POINT(10 20), 5, kilometers)")
    assert p2.dwithin_geo == (10, 20, 5000.0, True)
    # no units: planar µdeg (unchanged semantics)
    p3 = parse_cql("DWITHIN(geom, POINT(10 20), 5000)")
    assert p3.dwithin == (10, 20, 5000, True) and p3.dwithin_geo is None
    with pytest.raises(ValueError, match="units"):
        parse_cql("DWITHIN(geom, POINT(10 20), 5000, 'feet')")


def test_dwithin_meters_matches_brute_haversine(spark, sf_dir):
    """Great-circle semantics, verified against the unconstrained
    haversine filter — the coarse bbox (lat band + latitude-corrected
    lon window) must never cut a true neighbor."""
    px, py, r = 20_000_000, 70_000_000, 2_000_000  # 2000 km at 70°N
    got = cql_filter(
        events_points(spark, sf_dir),
        f"DWITHIN(geom, POINT({px} {py}), {r}, 'meters')",
    )
    want = _brute_geo(spark, sf_dir, px, py, r)
    g = {x["event_id"] for x in got.select("event_id").collect()}
    w = {x["event_id"] for x in want.select("event_id").collect()}
    assert g == w and len(g) > 0

    # planar naive conversion (radius/m-per-µdeg circle) DIVERGES at
    # this latitude: the geodesic disc spans ~3x more longitude
    dy = int(r / 0.111)  # ~µdeg radius under the naive reading
    naive = events_points(spark, sf_dir).where(
        (F.col("x_u").between(px - dy, px + dy))
        & (F.col("y_u").between(py - dy, py + dy))
    )
    n = {x["event_id"] for x in naive.select("event_id").collect()}
    assert n != g


def test_dwithin_meters_polar_and_antimeridian(spark, sf_dir):
    """A pole-adjacent query (cos product below sin²(r/2R): every
    longitude qualifies) and a window crossing ±180° (split in two
    longitude ranges) — results stay haversine-exact."""
    for px, py, r in (
        (0, 89_500_000, 500_000),  # 89.5°N, 500 km: engulfs the pole
        (179_500_000, 0, 1_000_000),  # 1000 km window crosses ±180°
    ):
        got = cql_filter(
            events_points(spark, sf_dir),
            f"DWITHIN(geom, POINT({px} {py}), {r}, 'meters')",
        )
        want = _brute_geo(spark, sf_dir, px, py, r)
        g = {x["event_id"] for x in got.select("event_id").collect()}
        w = {x["event_id"] for x in want.select("event_id").collect()}
        assert g == w


def test_dwithin_meters_across_the_antimeridian_pushes_an_x_constraint(
    spark, sf_dir, tmp_path
):
    """A DWITHIN-'meters' window crossing ±180° wraps through the
    dateline split instead of dropping its longitude constraint: the
    parquet scan's pushed filters carry x_u, and the rows are still
    the brute haversine rows."""
    path = str(tmp_path / "ev.parquet")
    events_points(spark, sf_dir).write.parquet(path)
    stored = spark.read.parquet(path)
    px, py, r = 179_500_000, 0, 1_000_000  # 1000 km around 179.5°E
    got = cql_filter(stored, f"DWITHIN(geom, POINT({px} {py}), {r}, 'meters')")
    plan = got._jdf.queryExecution().executedPlan().toString()
    pushed = [ln.split("PushedFilters")[1] for ln in plan.split("\n") if "PushedFilters" in ln]
    assert pushed and "GreaterThanOrEqual(x_u," in pushed[0], plan
    want = _brute_geo(spark, sf_dir, px, py, r)
    g = {x["event_id"] for x in got.select("event_id").collect()}
    w = {x["event_id"] for x in want.select("event_id").collect()}
    assert g == w and len(g) > 0


def test_beyond_meters_complement(spark, sf_dir):
    px, py, r = 20_000_000, 70_000_000, 2_000_000
    beyond = cql_filter(
        events_points(spark, sf_dir),
        f"BEYOND(geom, POINT({px} {py}), {r}, 'meters')",
    )
    within = cql_filter(
        events_points(spark, sf_dir),
        f"DWITHIN(geom, POINT({px} {py}), {r}, 'meters')",
    )
    total = events_points(spark, sf_dir).count()
    assert beyond.count() + within.count() == total
    assert beyond.join(within.select("event_id"), "event_id", "leftsemi").count() == 0
