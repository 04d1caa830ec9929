import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geowave_spark import LON_OFF_U
from geowave_spark.index.zorder import (
    bbox_ranges,
    cells_of_points,
    grid_coord,
    morton_decode,
    morton_encode,
    pick_res_for_extent,
)
from oracles import cell_of_point, decode_cell, parent_cell


def test_morton_roundtrip_scalar():
    for gx, gy in [(0, 0), (1, 0), (0, 1), (12345, 67890), (2**31 - 1, 2**31 - 1)]:
        c = morton_encode(gx, gy)
        assert morton_decode(c) == (gx, gy)


@given(st.integers(0, 2**31 - 1), st.integers(0, 2**31 - 1))
@settings(max_examples=200)
def test_morton_roundtrip_property(gx, gy):
    assert morton_decode(morton_encode(gx, gy)) == (gx, gy)


def test_morton_vectorized_matches_scalar():
    rng = np.random.default_rng(42)
    gx = rng.integers(0, 2**31, size=1000).astype(np.uint64)
    gy = rng.integers(0, 2**31, size=1000).astype(np.uint64)
    cells = morton_encode(gx, gy)
    for i in range(0, 1000, 97):
        assert int(cells[i]) == morton_encode(int(gx[i]), int(gy[i]))


def test_grid_coord_edges():
    assert grid_coord(-180_000_000, 8) == 0
    assert grid_coord(180_000_000, 8) == 255  # clamped into last cell
    assert grid_coord(0, 1) == 1
    assert grid_coord(-1, 1) == 0  # just west of the meridian


def test_grid_coord_exact_at_high_res():
    # would fail with float64 arithmetic: (x+off)*2^31 > 2^53
    x_u = 179_999_999
    g = grid_coord(x_u, 31)
    exact = (x_u + LON_OFF_U) * (1 << 31) // 360_000_000
    assert g == exact


def test_cell_bounds_contain_point():
    for res in [1, 4, 10, 20]:
        x_u, y_u = 12_345_678, -43_210_987
        c = cell_of_point(x_u, y_u, res)
        x_lo, y_lo, x_hi, y_hi = decode_cell(c, res)
        assert x_lo <= x_u < x_hi + 1
        assert y_lo <= y_u < y_hi + 1


def test_parent_cell_consistent():
    x_u, y_u = 55_555_555, 44_444_444
    fine = cell_of_point(x_u, y_u, 16)
    for d in [1, 3, 8]:
        coarse = cell_of_point(x_u, y_u, 16 - d)
        assert parent_cell(fine, d) == coarse


def test_bbox_ranges_cover_exact_cells():
    res = 8
    x_lo, y_lo, x_hi, y_hi = -10_000_000, -5_000_000, 22_000_000, 13_000_000
    ranges = bbox_ranges(x_lo, y_lo, x_hi, y_hi, res, max_ranges=1000)
    # every point cell inside the bbox must fall in some range
    rng = np.random.default_rng(7)
    xs = rng.integers(x_lo, x_hi, 500)
    ys = rng.integers(y_lo, y_hi, 500)
    cells = cells_of_points(xs, ys, res)
    for c in cells:
        assert any(lo <= c <= hi for lo, hi in ranges), c
    # outside points must not (when ranges are exact, i.e. enough budget)
    xs_out = rng.integers(x_hi + 3_000_000, x_hi + 50_000_000, 200)
    ys_out = rng.integers(y_lo, y_hi, 200)
    for c in cells_of_points(xs_out, ys_out, res):
        assert not any(lo <= c <= hi for lo, hi in ranges)


def test_bbox_ranges_budget_superset():
    # with a tiny budget, ranges are a superset (never drop a cell)
    res = 10
    args = (-10_000_000, -5_000_000, 22_000_000, 13_000_000)
    tight = bbox_ranges(*args, res, max_ranges=4)
    exact = bbox_ranges(*args, res, max_ranges=100000)
    assert len(tight) <= 8
    for lo, hi in exact:
        assert any(tlo <= lo and hi <= thi for tlo, thi in tight)


def test_bbox_ranges_merged_sorted():
    ranges = bbox_ranges(0, 0, 40_000_000, 40_000_000, 9, max_ranges=64)
    for i in range(1, len(ranges)):
        assert ranges[i][0] > ranges[i - 1][1] + 1  # disjoint, gap ≥ 1, sorted


def test_pick_res_for_extent_monotone():
    r_small = pick_res_for_extent(1_000, 1_000)
    r_big = pick_res_for_extent(100_000_000, 100_000_000)
    assert r_small > r_big
    assert 0 <= r_big <= r_small <= 31
