"""Property test (hypothesis): box_point_join ≡ the brute-force cross
join on the inputs where a cell-keyed join can go wrong — boxes past
the world edge (grid clamping), zero-width boxes, points exactly on box
edges, and box edges and spans straddling cell boundaries at several
resolutions (the per-row res pick must keep every box within 2 cells
per axis)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from geowave_spark import LON_OFF_U, WORLD_X_U
from geowave_spark.operators.spatial_join import POINT_RES, box_point_join

res_s = st.integers(min_value=0, max_value=POINT_RES)


@st.composite
def cell_edge(draw):
    """A cell boundary at some res (± 1 µdeg), or a world edge, or a
    coordinate past the world edge. Both axes grid over the same
    [−LON_OFF_U, WORLD_X_U − LON_OFF_U] domain (LAT_OFF_U == LON_OFF_U)."""
    kind = draw(st.sampled_from(["cell", "world", "outside"]))
    if kind == "world":
        return draw(st.sampled_from([-LON_OFF_U, WORLD_X_U - LON_OFF_U]))
    if kind == "outside":
        return draw(st.sampled_from([-1, 1])) * (LON_OFF_U + draw(st.integers(1, 10**7)))
    r = draw(res_s)
    k = draw(st.integers(min_value=0, max_value=1 << r))
    return -LON_OFF_U + k * WORLD_X_U // (1 << r) + draw(st.integers(-1, 1))


@st.composite
def span(draw):
    """Zero, tiny, or one cell span at some res (± 1 µdeg)."""
    kind = draw(st.sampled_from(["zero", "small", "cell"]))
    if kind == "zero":
        return 0
    if kind == "small":
        return draw(st.integers(1, 5000))
    return max(0, (WORLD_X_U >> draw(res_s)) + draw(st.integers(-1, 1)))


@st.composite
def box(draw):
    x_lo, y_lo = draw(cell_edge()), draw(cell_edge())
    return (x_lo, y_lo, x_lo + draw(span()), y_lo + draw(span()))


@st.composite
def case(draw):
    boxes = draw(st.lists(box(), min_size=1, max_size=6))
    pts = []
    for x_lo, y_lo, x_hi, y_hi in boxes:
        # corners, edge midpoints, and one µdeg outside each edge
        xs = [x_lo - 1, x_lo, (x_lo + x_hi) // 2, x_hi, x_hi + 1]
        ys = [y_lo - 1, y_lo, (y_lo + y_hi) // 2, y_hi, y_hi + 1]
        pts += draw(
            st.lists(st.tuples(st.sampled_from(xs), st.sampled_from(ys)), max_size=8)
        )
    pts += draw(st.lists(st.tuples(cell_edge(), cell_edge()), max_size=4))
    return boxes, pts


@settings(max_examples=30, deadline=None)
@given(case())
def test_box_point_join_equals_brute_force(spark, c):
    boxes, pts = c
    bdf = spark.createDataFrame(
        [(i, *b) for i, b in enumerate(boxes)],
        "c_custkey long, x_lo long, y_lo long, x_hi long, y_hi long",
    )
    pdf = spark.createDataFrame(
        [(i, *p) for i, p in enumerate(pts)],
        "event_id long, x_u long, y_u long",
    )
    expected = sorted(
        (i, j)
        for i, (x, y) in enumerate(pts)
        for j, (x_lo, y_lo, x_hi, y_hi) in enumerate(boxes)
        if x_lo <= x <= x_hi and y_lo <= y <= y_hi
    )
    got = sorted(map(tuple, box_point_join(pdf, bdf).collect()))
    assert got == expected
