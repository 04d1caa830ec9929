"""Property pins for the kNN windows (operators/geodesic.py,
operators/knn.py) — pure float/int functions, no Spark.

The load-bearing invariant behind knn / knn_geodesic exactness, and
behind the coarse box of ECQL/GWQL ``DWITHIN(..., 'meters')``, is
WINDOW CONTAINMENT: every point within the radius of the query lies
inside the query's window. The ladder stops once k candidates sit
within the radius, so a window that ever lost such a point could let
the operator return a wrong neighbor. The example-based tests
(test_geodesic.py, test_knn.py, test_cql.py) check it at fixed
fixtures; here hypothesis sweeps the antimeridian, both poles and
radii from 1 m to 20,000 km.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from geowave_spark import LON_OFF_U, WORLD_X_U
from geowave_spark.operators.geodesic import EARTH_R_M, geodesic_window
from geowave_spark.operators.knn import planar_window

lon_u = st.one_of(
    st.integers(-LON_OFF_U, LON_OFF_U),
    st.integers(LON_OFF_U - 2_000_000, LON_OFF_U),  # east of the antimeridian
    st.integers(-LON_OFF_U, -LON_OFF_U + 2_000_000),  # west of it
)
lat_u = st.one_of(
    st.integers(-90_000_000, 90_000_000),
    st.integers(88_000_000, 90_000_000),  # north pole
    st.integers(-90_000_000, -88_000_000),  # south pole
)
# log-uniform 1 m .. 20,000 km
radius_m = st.floats(0.0, math.log10(2e7)).map(lambda e: 10.0**e)


def _haversine_m(qx: int, qy: int, x: int, y: int) -> float:
    # same closed form as geodesic.haversine_m / haversine_m_sql
    lat1 = math.radians(qy / 1e6)
    lat2 = math.radians(y / 1e6)
    dlat = math.radians((y - qy) / 2e6)
    dlon = math.radians((x - qx) / 2e6)
    a = math.sin(dlat) ** 2 + math.cos(lat1) * math.cos(lat2) * math.sin(dlon) ** 2
    return 2.0 * EARTH_R_M * math.asin(min(math.sqrt(a), 1.0))


def _destination(qx: int, qy: int, dist_m: float, bearing: float) -> tuple[int, int]:
    """The µdeg point ``dist_m`` along a great circle from (qx, qy)."""
    d = dist_m / EARTH_R_M
    phi1, lam1 = math.radians(qy / 1e6), math.radians(qx / 1e6)
    phi2 = math.asin(
        min(1.0, max(-1.0, math.sin(phi1) * math.cos(d)
                     + math.cos(phi1) * math.sin(d) * math.cos(bearing)))
    )
    lam2 = lam1 + math.atan2(
        math.sin(bearing) * math.sin(d) * math.cos(phi1),
        math.cos(d) - math.sin(phi1) * math.sin(phi2),
    )
    x = round(math.degrees(lam2) * 1e6)
    x = (x + LON_OFF_U) % WORLD_X_U - LON_OFF_U  # back into [-180°, 180°)
    return x, round(math.degrees(phi2) * 1e6)


def _inside(x: int, y: int, window: tuple[int, int, int, int]) -> bool:
    """``spatial_query.bbox_query_dateline``'s test of one point."""
    x_lo, y_lo, x_hi, y_hi = window
    if x_lo <= x_hi:
        in_x = x_lo <= x <= x_hi
    else:  # crosses ±180°: [x_lo, 180°] ∪ [-180°, x_hi]
        in_x = x_lo <= x <= LON_OFF_U or -LON_OFF_U <= x <= x_hi
    return in_x and y_lo <= y <= y_hi


def _widest(qx: int, qy: int, dist_m: float, east: bool) -> tuple[int, int] | None:
    """The µdeg point of the radius-``dist_m`` circle around (qx, qy)
    farthest east (or west) in longitude — where a window's longitude
    bound is tight; None when the circle holds a pole."""
    d = dist_m / EARTH_R_M
    phi = math.radians(qy / 1e6)
    s = math.sin(d) / math.cos(phi) if math.cos(phi) > 0 else 2.0
    t = math.sin(phi) / math.cos(d) if math.cos(d) > 0 else 2.0
    if s >= 1.0 or abs(t) > 1.0:
        return None
    dlam = math.degrees(math.asin(s)) * (1 if east else -1)
    x = round(qx + dlam * 1e6)
    x = (x + LON_OFF_U) % WORLD_X_U - LON_OFF_U
    return x, round(math.degrees(math.asin(t)) * 1e6)


@settings(max_examples=2000, deadline=None)
@given(qx=lon_u, qy=lat_u, r=radius_m,
       kind=st.sampled_from(["walk", "east", "west", "anywhere"]),
       frac=st.one_of(st.just(1.0), st.floats(0.0, 1.0)),
       bearing=st.one_of(st.sampled_from([0.0, math.pi / 2, math.pi, 1.5 * math.pi]),
                         st.floats(0.0, 2 * math.pi)),
       far=st.tuples(lon_u, lat_u))
def test_geodesic_window_holds_every_point_within_the_radius(
    qx, qy, r, kind, frac, bearing, far
):
    """Within ``r`` by the closed-form haversine ⇒ inside
    geodesic_window(q, r). Points come from a great-circle walk of up
    to r from the query, from the circle's east or west extreme (where
    the longitude bound is tight), or from anywhere (large radii)."""
    if kind == "walk":
        p = _destination(qx, qy, frac * r, bearing)
    elif kind == "anywhere":
        p = far
    else:
        p = _widest(qx, qy, r, kind == "east")
    if p is None or not -90_000_000 <= p[1] <= 90_000_000:
        return
    px, py = p
    if _haversine_m(qx, qy, px, py) > r:
        return  # outside the radius: no claim made
    window = geodesic_window(qx, qy, r)
    assert _inside(px, py, window), (
        f"point ({px}, {py}) within {r:.3f} m of ({qx}, {qy}) "
        f"is outside the window {window}"
    )


@settings(max_examples=500, deadline=None)
@given(qx=st.integers(-LON_OFF_U, LON_OFF_U), qy=st.integers(-90_000_000, 90_000_000),
       r=st.integers(0, WORLD_X_U), data=st.data())
def test_planar_window_holds_every_point_within_the_radius(qx, qy, r, data):
    """``dist2 ≤ r²`` ⇒ inside planar_window(q, r), the planar twin."""
    dx = data.draw(st.integers(-2 * r - 1, 2 * r + 1))
    dy = data.draw(st.integers(-2 * r - 1, 2 * r + 1))
    if dx * dx + dy * dy > r * r:
        return
    assert _inside(qx + dx, qy + dy, planar_window(qx, qy, r))
