"""WGS84 ↔ Web-Mercator and WGS84 ↔ UTM reprojection
(geom/transform.py) — the engine's stand-in for the reference's
GeoTools crsTransform (core/geotime/.../util/GeometryUtils.java),
scoped to the projected-CRS families the engine's stores index."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from geowave_spark.geom.transform import (
    R_MAJOR_M,
    merc_x_mm,
    merc_y_mm,
    wgs_x_u,
    wgs_y_u,
)
from geowave_spark.sources.testgeo import events_points


def test_known_anchor_points(spark):
    """Published anchor values of the spherical mercator: the domain
    edge x(180°) = pi*R; y(0) = 0; y(85.051128...°) ~ pi*R (the web
    map square)."""
    df = spark.range(1).select(
        merc_x_mm(F.lit(180_000_000)).alias("xe"),
        merc_y_mm(F.lit(0)).alias("y0"),
        merc_y_mm(F.lit(85_051_129)).alias("ysq"),
        merc_x_mm(F.lit(-180_000_000)).alias("xw"),
    )
    r = df.first()
    edge = math.pi * R_MAJOR_M * 1000.0
    assert abs(r["xe"] - edge) < 1
    assert r["xw"] == -r["xe"]
    assert r["y0"] == 0
    assert abs(r["ysq"] - edge) < 2_000  # within 2 m of the square edge


def test_round_trip_is_mm_exact(spark, sf_dir):
    """4326 -> 3857 -> 4326 over the full fixture: the round trip must
    land within ±1 µdeg of the original (mm quantization is ~9e-6 µdeg
    of longitude at the equator, so anything beyond ±1 is a formula
    error, not rounding)."""
    pts = events_points(spark, sf_dir)
    rt = pts.select(
        "event_id",
        F.col("x_u").alias("ox"),
        F.col("y_u").alias("oy"),
        merc_x_mm(F.col("x_u")).alias("x_mm"),
        merc_y_mm(F.col("y_u")).alias("y_mm"),
    ).withColumns({"x_u": wgs_x_u(F.col("x_mm")), "y_u": wgs_y_u(F.col("y_mm"))})
    bad = rt.where(
        (F.abs(F.col("x_u") - F.col("ox")) > 1)
        | (F.abs(F.col("y_u") - F.col("oy")) > 1)
    ).count()
    assert bad == 0


def test_inverse_formulas_match_forward(spark):
    """wgs_*_u are the algebraic inverses: feeding exact forward
    outputs back recovers the inputs (spot grid incl. high latitude
    and both hemispheres)."""
    rows = [
        (i, x, y)
        for i, (x, y) in enumerate(
            [
                (0, 0),
                (123_456_789, 45_000_000),
                (-123_456_789, -45_000_000),
                (179_999_999, 84_999_999),
                (-179_999_999, -84_999_999),
                (1, -1),
            ]
        )
    ]
    df = spark.createDataFrame(rows, "i LONG, x_u LONG, y_u LONG")
    rt = df.select(
        "i",
        "x_u",
        "y_u",
        wgs_x_u(merc_x_mm(F.col("x_u"))).alias("rx"),
        wgs_y_u(merc_y_mm(F.col("y_u"))).alias("ry"),
    )
    for r in rt.collect():
        assert abs(r["rx"] - r["x_u"]) <= 1 and abs(r["ry"] - r["y_u"]) <= 1


def test_reproject_feeds_custom_crs_index(spark, sf_dir):
    """Composition with the custom-CRS index: reprojected events land
    inside the WEB_MERCATOR_MM domain and take valid cell ids — the
    ingest-reproject-then-index flow."""
    from geowave_spark.index.crs import CRS_RES, WEB_MERCATOR_MM, cell_col_crs

    pts = events_points(spark, sf_dir).withColumns(
        {"x_mm": merc_x_mm(F.col("x_u")), "y_mm": merc_y_mm(F.col("y_u"))}
    )
    dom = pts.agg(
        F.min("x_mm"), F.max("x_mm"), F.min("y_mm"), F.max("y_mm")
    ).first()
    assert dom[0] >= WEB_MERCATOR_MM.x_lo and dom[1] <= WEB_MERCATOR_MM.x_hi
    assert dom[2] >= WEB_MERCATOR_MM.y_lo and dom[3] <= WEB_MERCATOR_MM.y_hi
    n_side = 1 << CRS_RES
    cells = pts.select(
        cell_col_crs(F.col("x_mm"), F.col("y_mm"), CRS_RES, WEB_MERCATOR_MM).alias("c")
    )
    mn, mx = cells.agg(F.min("c"), F.max("c")).first()
    assert 0 <= mn and mx < n_side * n_side


# ------------------------------------------------------------- UTM


def test_utm_published_anchor_and_symmetry(spark):
    """The canonical UTM anchor: the equator point 3° west of a central
    meridian (0°N 0°E in zone 31) has easting 166,021.44 m — the
    published minimum easting of a full UTM zone — and northing 0.
    Hemisphere symmetry: mirrored latitudes at the same longitude give
    the same easting and complementary northing N' = 1e7 − N."""
    from geowave_spark.geom.transform import utm_roundtrip

    rows = [(1, 0, 0), (2, 139_700_000, 35_650_000), (3, 139_700_000, -35_650_000)]
    df = spark.createDataFrame(rows, "event_id LONG, x_u LONG, y_u LONG")
    out = {r["event_id"]: r for r in utm_roundtrip(df).collect()}
    assert abs(out[1]["e_m"] - 166_021) <= 1 and out[1]["n_m"] == 0
    # same longitude, mirrored latitude: same easting, complementary northing
    assert out[2]["e_m"] == out[3]["e_m"]
    assert abs(out[2]["n_m"] + out[3]["n_m"] - 10_000_000) <= 1
    assert out[2]["south"] is False and out[3]["south"] is True


def test_utm_central_meridian_matches_integrated_arc(spark):
    """On the central meridian, northing = k0 × ellipsoidal meridian
    arc length — computed here INDEPENDENTLY by numerical integration
    of a(1-e²)(1-e²sin²t)^(-3/2), not by any series. Pins the forward
    Krüger series + rectifying radius to 1 mm at 4 latitudes."""
    import numpy as np

    from geowave_spark.geom.transform import F_WGS84, K0_UTM, R_MAJOR_M, utm_roundtrip

    e2 = F_WGS84 * (2 - F_WGS84)

    def arc_m(lat_deg):
        t = np.linspace(0.0, math.radians(lat_deg), 2_000_001)
        integrand = (1 - e2 * np.sin(t) ** 2) ** -1.5
        return R_MAJOR_M * (1 - e2) * np.trapz(integrand, t)

    lats = [10.0, 45.0, 66.5, 84.0]
    rows = [(i, 3_000_000, int(lat * 1e6)) for i, lat in enumerate(lats)]
    df = spark.createDataFrame(rows, "event_id LONG, x_u LONG, y_u LONG")
    got = {r["event_id"]: r for r in utm_roundtrip(df).collect()}
    for i, lat in enumerate(lats):
        assert got[i]["e_m"] == 500_000  # exactly on the zone-31 CM
        # n_m is rounded to integer meters; compare the arc at ±0.501 m
        assert abs(got[i]["n_m"] - K0_UTM * arc_m(lat)) <= 0.501, lat


def test_utm_sphere_limit_matches_closed_form(spark):
    """With f=0 the Krüger machinery must collapse to the closed-form
    spherical transverse Mercator E = FE + k0·R·atanh(cosφ·sinλ),
    N = k0·R·atan(tanφ/cosλ) — an independent structural check of the
    conformal construction (series coefficients all vanish at n=0)."""
    from geowave_spark.geom.transform import (
        FALSE_E_M,
        K0_UTM,
        R_MAJOR_M,
        utm_roundtrip,
    )

    pts = [(1, 1_500_000, 40_000_000), (2, -74_000_000, -33_000_000), (3, 5_900_000, 84_000_000)]
    df = spark.createDataFrame(pts, "event_id LONG, x_u LONG, y_u LONG")
    got = {r["event_id"]: r for r in utm_roundtrip(df, f=0.0).collect()}
    for eid, x_u, y_u in pts:
        lam0 = (math.floor((x_u / 1e6 + 180) / 6) % 60) * 6 + 3 - 180
        dl = math.radians(x_u / 1e6 - lam0)
        phi = math.radians(y_u / 1e6)
        e_ref = FALSE_E_M + K0_UTM * R_MAJOR_M * math.atanh(math.cos(phi) * math.sin(dl))
        n_ref = K0_UTM * R_MAJOR_M * math.atan2(math.tan(phi), math.cos(dl))
        if y_u < 0:
            n_ref += 10_000_000.0
        assert abs(got[eid]["e_m"] - e_ref) <= 0.501, eid
        assert abs(got[eid]["n_m"] - n_ref) <= 0.501, eid


def test_utm_round_trip_exact_full_fixture(spark, sf_dir):
    """WGS84 → UTM → WGS84 over every fixture row recovers the exact
    integer micro-degrees (the inverse is fixed-point inversion of the
    forward map, so residuals are ~1e-11 rad — far inside the µdeg
    rounding)."""
    from geowave_spark.geom.transform import utm_roundtrip

    pts = events_points(spark, sf_dir).select("event_id", "x_u", "y_u")
    out = utm_roundtrip(pts)
    bad = out.join(pts, "event_id").where(
        (F.col("rt_x_u") != F.col("x_u")) | (F.col("rt_y_u") != F.col("y_u"))
    ).count()
    assert bad == 0
    # zone sanity over the whole domain
    mn, mx = out.agg(F.min("zone"), F.max("zone")).first()
    assert 1 <= mn and mx <= 60


def test_utm_duckdb_twin_is_textually_identical(spark):
    """The oracle twin is the SAME stage strings — assert the chain
    builder emits every stage expression verbatim."""
    from geowave_spark.geom.transform import utm_roundtrip_sql, utm_stages

    sql = utm_roundtrip_sql("pts")
    for stage in utm_stages():
        for expr in stage:
            assert expr in sql


def test_utm_feeds_custom_crs_index(spark, sf_dir):
    """Composition: reproject events to UTM, keep one zone, index the
    zone-local (e_m, n_m) with the custom-CRS grid — cell ids valid and
    consistent with the scalar grid transform (the reproject-then-index
    ingest flow over the second projected-CRS family)."""
    from geowave_spark.geom.transform import utm_roundtrip
    from geowave_spark.index.crs import CRS, CRS_RES, cell_col_crs, grid_coord_crs

    utm = utm_roundtrip(events_points(spark, sf_dir).select("event_id", "x_u", "y_u"))
    zone = utm.groupBy("zone").count().orderBy(F.desc("count")).first()["zone"]
    # the zone in integer meters: easting over its widest (equator)
    # section, northing over both hemispheres
    dom = CRS(f"UTM zone {zone} (meters)", 166_000, 834_000, 0, 10_000_000)
    z = utm.where(F.col("zone") == zone)
    assert z.count() > 0
    cells = z.select(
        "e_m", "n_m", cell_col_crs(F.col("e_m"), F.col("n_m"), CRS_RES, dom).alias("c")
    )
    n_side = 1 << CRS_RES
    rows = cells.limit(200).collect()
    from geowave_spark.index.zorder import morton_encode

    for r in rows:
        assert 0 <= r["c"] < n_side * n_side
        gx = grid_coord_crs(r["e_m"], CRS_RES, dom.x_lo, dom.x_span)
        gy = grid_coord_crs(r["n_m"], CRS_RES, dom.y_lo, dom.y_span)
        assert r["c"] == morton_encode(gx, gy)


def test_utm_antimeridian_wraps_into_zone_1(spark):
    """Regression: lon = +180° takes zone 1 (mod-60 wrap of the zone
    NUMBER) but the raw Δλ to zone 1's central meridian (-177°) is
    +357° — far outside the Krüger series' |Δλ| ≤ 3° validity. The
    stage-2 floor-wrap brings it to -3°, making +180° exactly
    equivalent to -180°: identical easting/northing/zone, and the
    round trip returns the -180° representation of the meridian."""
    from geowave_spark.geom.transform import utm_roundtrip

    rows = [(1, 180_000_000, 20_000_000), (2, -180_000_000, 20_000_000)]
    df = spark.createDataFrame(rows, "event_id LONG, x_u LONG, y_u LONG")
    out = {r["event_id"]: r for r in utm_roundtrip(df).collect()}
    assert out[1]["zone"] == out[2]["zone"] == 1
    assert out[1]["e_m"] == out[2]["e_m"]
    assert out[1]["n_m"] == out[2]["n_m"]
    # Δλ = -3° from zone 1's central meridian: easting near the zone's
    # published western limit (~167k m at this latitude), NOT the
    # meaningless value the unwrapped 357° series produced
    assert 150_000 < out[1]["e_m"] < 300_000
    assert out[1]["rt_x_u"] == out[2]["rt_x_u"] == -180_000_000
    assert out[1]["rt_y_u"] == 20_000_000


# ------------------------------------------------- LCC / Albers conics


def test_conic_origin_and_roundtrip(spark):
    """Both conics map (λ0, φ0) to exactly (0, 0) and round-trip every
    service-area probe point to the exact input micro-degrees."""
    from geowave_spark.geom.transform import (
        albers_stages,
        conic_roundtrip,
        lcc_stages,
    )

    pts = [
        (0, -96_000_000, 39_000_000),   # LCC origin
        (1, -96_000_000, 23_000_000),   # Albers origin
        (2, -120_500_000, 35_250_000),
        (3, -70_000_000, 45_000_000),
        (4, -96_000_000, 33_000_000),   # standard parallel
        (5, -129_900_000, 15_100_000),  # service-area corners
        (6, -60_100_000, 59_900_000),
    ]
    df = spark.createDataFrame(pts, "event_id LONG, x_u LONG, y_u LONG")
    for fn, origin_id in ((lcc_stages, 0), (albers_stages, 1)):
        out = {r["event_id"]: r for r in conic_roundtrip(df, stages_fn=fn).collect()}
        assert out[origin_id]["e_m"] == 0 and out[origin_id]["n_m"] == 0
        for i, x, y in pts:
            assert out[i]["rt_x_u"] == x, (fn.__name__, i)
            assert out[i]["rt_y_u"] == y, (fn.__name__, i)


def test_albers_is_equal_area(spark):
    """The defining property: the projected area of a geodetic cell
    equals its authalic-sphere area (within the quadrature error of a
    small cell) — checked for two cells at very different latitudes,
    which a conformal projection (LCC) cannot satisfy simultaneously."""
    import math

    from geowave_spark.geom.transform import (
        E1_WGS84,
        R_MAJOR_M,
        albers_stages,
        conic_roundtrip,
        _q_py,
    )

    def cell(eid, lon, lat, d=0.5):
        return [
            (eid * 10 + k, int((lon + dx) * 1e6), int((lat + dy) * 1e6))
            for k, (dx, dy) in enumerate(
                [(0, 0), (d, 0), (d, d), (0, d)]
            )
        ]

    rows = cell(1, -110.0, 25.0) + cell(2, -80.0, 48.0)
    df = spark.createDataFrame(rows, "event_id LONG, x_u LONG, y_u LONG")
    out = {r["event_id"]: r for r in conic_roundtrip(df, stages_fn=albers_stages).collect()}

    def shoelace(ids):
        xs = [(out[i]["e_m"], out[i]["n_m"]) for i in ids]
        area = 0.0
        for (x1, y1), (x2, y2) in zip(xs, xs[1:] + xs[:1]):
            area += x1 * y2 - x2 * y1
        return abs(area) / 2

    e2 = E1_WGS84 ** 2
    # authalic radius² = a²·q(π/2)/2 ; cell area on the ellipsoid =
    # R_q²·Δλ·(q(φ2)−q(φ1))/2 (exact for a lon-lat quad)
    def true_area(lat, d=0.5):
        q1 = _q_py(math.radians(lat), E1_WGS84)
        q2 = _q_py(math.radians(lat + d), E1_WGS84)
        dlam = math.radians(d)
        return R_MAJOR_M ** 2 * dlam * (q2 - q1) / 2

    for eid, lat in ((1, 25.0), (2, 48.0)):
        got = shoelace([eid * 10 + k for k in range(4)])
        want = true_area(lat)
        # straight-edge quadrature of the curved cell: ~1e-4 relative
        assert abs(got - want) / want < 5e-4, (eid, got, want)


def test_lcc_preserves_meridian_scale_at_standard_parallels(spark):
    """Conformal pin: along a standard parallel the LCC scale factor is
    exactly 1 — a 0.1° arc of the parallel projects to its ellipsoidal
    ground length (r·Δλ with r = a·cosφ/√(1−e²sin²φ))."""
    import math

    from geowave_spark.geom.transform import (
        E1_WGS84,
        R_MAJOR_M,
        conic_roundtrip,
        lcc_stages,
    )

    lat = 33.0
    rows = [(1, -96_000_000, int(lat * 1e6)), (2, -95_900_000, int(lat * 1e6))]
    df = spark.createDataFrame(rows, "event_id LONG, x_u LONG, y_u LONG")
    out = {r["event_id"]: r for r in conic_roundtrip(df, stages_fn=lcc_stages).collect()}
    dx = out[2]["e_m"] - out[1]["e_m"]
    dy = out[2]["n_m"] - out[1]["n_m"]
    got = math.hypot(dx, dy)
    phi = math.radians(lat)
    r = R_MAJOR_M * math.cos(phi) / math.sqrt(1 - (E1_WGS84 * math.sin(phi)) ** 2)
    want = r * math.radians(0.1)
    # chord-vs-arc of a 0.1° parallel arc is ~5e-4 m; the dominant
    # error is the INTEGER-meter rounding of both endpoints (≤1 m
    # each) — so pin to 2 m absolute on the ~9.3 km arc (2e-4 rel)
    assert abs(got - want) < 2.0, (got, want)
