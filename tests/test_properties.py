"""Property-based tests (hypothesis) for the SFC/index primitives —
invariants the reference asserts only on hand-picked examples
(core/index/src/test/.../sfc/zorder/ZOrderSFCTest.java etc.); random
micro-degree inputs here cover the domain edges and dateline clamps.
Pure-python primitives only (no SparkSession) — fast."""

from hypothesis import given, settings
from hypothesis import strategies as st

from geowave_spark import LON_OFF_U, WORLD_X_U
from geowave_spark.index.hilbert import hilbert_encode
from geowave_spark.index.zorder import (
    bbox_ranges,
    grid_coord,
    morton_decode,
    morton_encode,
)
from oracles import cell_of_point, decode_cell, hilbert_decode, parent_cell

coord = st.integers(min_value=-180_000_000, max_value=180_000_000)
res_s = st.integers(min_value=0, max_value=16)
grid16 = st.integers(min_value=0, max_value=(1 << 16) - 1)


@given(grid16, grid16)
def test_morton_roundtrip(gx, gy):
    assert morton_decode(morton_encode(gx, gy)) == (gx, gy)


@given(grid16, grid16)
def test_hilbert_roundtrip(gx, gy):
    assert tuple(hilbert_decode(hilbert_encode(gx, gy, 16), 16)) == (gx, gy)


@given(coord, res_s)
def test_grid_coord_in_range_and_monotone(x, res):
    g = grid_coord(x, res)
    assert 0 <= g < (1 << res)
    if x + 1 <= 180_000_000:
        assert grid_coord(x + 1, res) >= g


@given(coord, coord, res_s)
def test_cell_bounds_contain_point(x, y, res):
    cell = cell_of_point(x, y, res)
    x_lo, y_lo, x_hi, y_hi = decode_cell(cell, res)
    # hi is exclusive except at the clamped domain edge
    assert x_lo <= x <= max(x_hi, x_lo) + (0 if x < x_hi else WORLD_X_U)
    if x < LON_OFF_U:  # interior: strict
        assert x < x_hi or grid_coord(x, res) == (1 << res) - 1
    assert y_lo <= y


@given(coord, coord, st.integers(min_value=1, max_value=10), res_s)
def test_parent_cell_consistent(x, y, d, res):
    """Coarsening the Morton cell == computing the cell at coarser res."""
    if res - d < 0:
        return
    fine = cell_of_point(x, y, res)
    assert parent_cell(fine, d) == cell_of_point(x, y, res - d)


@given(coord, coord, coord, coord, st.integers(min_value=1, max_value=8))
@settings(max_examples=50)
def test_bbox_ranges_cover_inner_points(x0, y0, x1, y1, res):
    """Every point inside the bbox has its cell inside some range —
    the no-false-negative guarantee of getQueryRanges decomposition."""
    x_lo, x_hi = sorted((x0, x1))
    y_lo, y_hi = sorted((y0, y1))
    ranges = bbox_ranges(x_lo, y_lo, x_hi, y_hi, res)
    # probe the corners + center (cheap representative inner points)
    probes = [
        (x_lo, y_lo),
        (x_hi, y_hi),
        (x_lo, y_hi),
        (x_hi, y_lo),
        ((x_lo + x_hi) // 2, (y_lo + y_hi) // 2),
    ]
    for px, py in probes:
        c = cell_of_point(px, py, res)
        assert any(lo <= c <= hi for lo, hi in ranges)


@given(coord, coord, coord, coord)
@settings(max_examples=50)
def test_xz_key_covers_extent(x0, y0, x1, y1):
    """Python-side check of the XZ fit rule used by index/xz.py: the
    enlarged 2x2 block at the computed res covers the extent."""
    x_lo, x_hi = sorted((x0, x1))
    y_lo, y_hi = sorted((y0, y1))
    r_max = 12
    # replicate the closed-form rule
    import math

    def min_fit_shift(g0, g1):
        span = g1 - g0
        shc = 0 if span <= 1 else int(math.floor(math.log2(span)))
        if (g1 >> shc) <= (g0 >> shc) + 1:
            return shc
        return shc + 1

    gx0, gx1 = grid_coord(x_lo, r_max), grid_coord(x_hi, r_max)
    gy0, gy1 = grid_coord(y_lo, r_max), grid_coord(y_hi, r_max)
    sh = max(min_fit_shift(gx0, gx1), min_fit_shift(gy0, gy1))
    res = r_max - sh
    ax, ay = gx0 >> sh, gy0 >> sh
    assert grid_coord(x_hi, res) <= ax + 1
    assert grid_coord(y_hi, res) <= ay + 1
    assert grid_coord(x_lo, res) == ax and grid_coord(y_lo, res) == ay
