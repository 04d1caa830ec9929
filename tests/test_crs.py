"""Custom-CRS index path (SpatialDimensionalityTypeProvider crs option):
the SFC grid parameterized by arbitrary integer axis bounds must (a)
reduce exactly to the 4326 path on the default CRS, (b) keep the
range-decomposition superset invariant on a projected CRS, and (c)
answer bbox queries identically to a brute filter."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U
from geowave_spark.index.crs import (
    CRS,
    WEB_MERCATOR_MM,
    bbox_ranges_crs,
    cell_col_crs,
    crs_bbox_query,
    grid_coord_crs,
)

K1 = 2654435761
K2 = 2246822519
MERC = 20_037_508_342
# the 4326 micro-degree grid of index/native.cell_col, as a CRS
EPSG_4326_U = CRS("EPSG:4326 (micro-degrees)", -LON_OFF_U, WORLD_X_U - LON_OFF_U,
                  -LAT_OFF_U, WORLD_X_U - LAT_OFF_U)


@pytest.fixture(scope="module")
def merc_pts(spark):
    """Deterministic scatter over the full web-mercator mm plane."""
    return (
        spark.range(5000)
        .select(
            F.col("id").alias("pid"),
            (F.pmod(F.col("id") * K1, F.lit(2 * MERC)) - F.lit(MERC)).alias("x"),
            (F.pmod(F.col("id") * K2, F.lit(2 * MERC)) - F.lit(MERC)).alias("y"),
        )
        .cache()
    )


def test_default_crs_equals_4326_path(spark):
    """cell_col_crs over EPSG_4326_U ≡ index/native.cell_col."""
    from geowave_spark.index.native import cell_col
    from geowave_spark.sources.testgeo import events_points

    pts = events_points(spark, "/root/testdata/sf0.001").limit(500)
    res = 12
    mism = (
        pts.select(
            cell_col(F.col("x_u"), F.col("y_u"), res).alias("a"),
            cell_col_crs(F.col("x_u"), F.col("y_u"), res, EPSG_4326_U).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .count()
    )
    assert mism == 0


def test_grid_coord_crs_edges():
    crs = WEB_MERCATOR_MM
    n = 1 << 10
    # domain edges clamp inside
    assert grid_coord_crs(crs.x_lo, 10, crs.x_lo, crs.x_span) == 0
    assert grid_coord_crs(crs.x_hi, 10, crs.x_lo, crs.x_span) == n - 1
    assert grid_coord_crs(crs.x_lo - 10**12, 10, crs.x_lo, crs.x_span) == 0
    assert grid_coord_crs(crs.x_hi + 10**12, 10, crs.x_lo, crs.x_span) == n - 1
    # numpy twin agrees with scalar
    vs = np.array([crs.x_lo, 0, crs.x_hi, 123_456_789_0])
    got = grid_coord_crs(vs, 10, crs.x_lo, crs.x_span)
    assert [int(v) for v in got] == [
        grid_coord_crs(int(v), 10, crs.x_lo, crs.x_span) for v in vs
    ]


def test_bbox_ranges_crs_superset(spark, merc_pts):
    """Every point inside the bbox falls in some decomposed cell range
    (coarse constraint is a superset — refinement removes the rest)."""
    res = 12
    bbox = (-5_000_000_000, -2_000_000_000, 3_000_000_000, 6_000_000_000)
    ranges = bbox_ranges_crs(WEB_MERCATOR_MM, *bbox, res, max_ranges=8)
    assert len(ranges) <= 8
    cell = cell_col_crs(F.col("x"), F.col("y"), res, WEB_MERCATOR_MM)
    cond = None
    for lo, hi in ranges:
        c = cell.between(int(lo), int(hi))
        cond = c if cond is None else (cond | c)
    missed = (
        merc_pts.where(
            F.col("x").between(bbox[0], bbox[2])
            & F.col("y").between(bbox[1], bbox[3])
        )
        .where(~cond)
        .count()
    )
    assert missed == 0


def test_crs_bbox_query_matches_brute(spark, merc_pts):
    bbox = (-5_000_000_000, -2_000_000_000, 3_000_000_000, 6_000_000_000)
    got = crs_bbox_query(merc_pts, WEB_MERCATOR_MM, *bbox).select("pid")
    want = merc_pts.where(
        F.col("x").between(bbox[0], bbox[2]) & F.col("y").between(bbox[1], bbox[3])
    ).select("pid")
    g = {r.pid for r in got.collect()}
    w = {r.pid for r in want.collect()}
    assert g == w and len(g) > 0


def test_crs_stored_layout_matches_live_path(spark, sf_dir, monkeypatch, tmp_path):
    """crs_store (write-time cell keys over the CRS bounds, cell-sorted
    parquet) answers the bbox identically to the live compute path, and
    the cell-range constraint reaches PushedFilters on the stored scan."""
    import contextlib
    from io import StringIO

    from geowave_spark.index.crs import crs_bbox_stored_query
    from geowave_spark.plans import store as S
    from geowave_spark.sources.testgeo import mercator_mm_points

    monkeypatch.setattr(S, "CACHE_ROOT", str(tmp_path / "cache"))
    bbox = (-5_000_000_000, -2_000_000_000, 3_000_000_000, 6_000_000_000)
    from geowave_spark.index.crs import CRS_RES

    stored = S.crs_store(spark, sf_dir, CRS_RES)
    got = crs_bbox_stored_query(
        stored, WEB_MERCATOR_MM, *bbox, res=CRS_RES
    ).select("event_id")
    live = crs_bbox_query(
        mercator_mm_points(spark, sf_dir), WEB_MERCATOR_MM, *bbox
    ).select("event_id")
    g = {r.event_id for r in got.collect()}
    assert g == {r.event_id for r in live.collect()} and len(g) > 0

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "cell" in plan


def test_crs_generality_asymmetric_domain(spark):
    """The CRS seam is parametric, not a pair of blessed constants: an
    asymmetric local engineering grid (unequal axis spans, non-centered
    origin — e.g. a mine-site survey frame in integer mm) routes
    through the identical cell/range/query path with no special
    casing (SpatialDimensionalityTypeProvider accepts ANY CRS's axis
    ranges, not just 4326/3857)."""
    from geowave_spark.index.crs import CRS

    eng = CRS("local-eng-mm", 0, 10_000_000, -500, 99_500)
    pts = spark.range(4000).select(
        F.col("id").alias("pid"),
        F.pmod(F.col("id") * K1, F.lit(10_000_001)).alias("x"),
        (F.pmod(F.col("id") * K2, F.lit(100_001)) - F.lit(500)).alias("y"),
    )
    bbox = (1_000_000, 10_000, 8_000_000, 70_000)
    got = {r.pid for r in crs_bbox_query(pts, eng, *bbox).select("pid").collect()}
    want = {
        r.pid
        for r in pts.where(
            F.col("x").between(bbox[0], bbox[2])
            & F.col("y").between(bbox[1], bbox[3])
        ).collect()
    }
    assert got == want and len(want) > 0
    # superset invariant holds on the asymmetric domain too
    ranges = bbox_ranges_crs(eng, *bbox, 12, max_ranges=8)
    cell = cell_col_crs(F.col("x"), F.col("y"), 12, eng)
    cond = None
    for lo, hi in ranges:
        c = cell.between(int(lo), int(hi))
        cond = c if cond is None else (cond | c)
    missed = (
        pts.where(
            F.col("x").between(bbox[0], bbox[2])
            & F.col("y").between(bbox[1], bbox[3])
        )
        .where(~cond)
        .count()
    )
    assert missed == 0
