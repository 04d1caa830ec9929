import numpy as np

from geowave_spark import X_SCALE
from geowave_spark.geom.predicates import points_in_polygon
from geowave_spark.geom.wkb import box, polygon, wkb_dumps
from geowave_spark.index.polyfill import polyfill
from geowave_spark.index.zorder import cells_of_points


def test_polyfill_superset_of_point_cells():
    """Every point inside the polygon maps to a cell in the cover."""
    tri = polygon([[0, 0], [20, 0], [10, 15]])
    res = 8
    cover = set(polyfill(tri, res))
    rng = np.random.default_rng(11)
    xs = rng.uniform(0, 20, 2000)
    ys = rng.uniform(0, 15, 2000)
    inside = points_in_polygon(xs, ys, tri)
    cells = cells_of_points(
        (xs * X_SCALE).astype(np.int64), (ys * X_SCALE).astype(np.int64), res
    )
    for c in cells[inside]:
        assert int(c) in cover


def test_polyfill_trims_corners():
    """Exact trim drops bbox cells that don't touch the triangle."""
    tri = polygon([[0, 0], [40, 0], [0, 40]])
    res = 6
    trimmed = set(polyfill(tri, res, exact_trim=True))
    bbox_cover = set(polyfill(tri, res, exact_trim=False))
    assert trimmed < bbox_cover  # strictly smaller: corner cells dropped


def test_cells_for_geom_respects_cap():
    """A geometry join's keying (geom_join._geom_cover) picks the finest
    resolution whose cover stays within max_cells."""
    from geowave_spark.operators.geom_join import _geom_cover

    params = (64, 20, 0)  # max_cells, finest_res, buffer_u
    big = wkb_dumps(box(-170_000_000, -80_000_000, 170_000_000, 80_000_000))
    small = wkb_dumps(box(0, 0, 10_000, 10_000))
    res_big, cells_big = _geom_cover(big, params)[:2]
    res_small, cells_small = _geom_cover(small, params)[:2]
    assert len(cells_big) <= 64
    assert len(cells_small) <= 64
    assert res_small > res_big


def test_cells_for_wkb_cached():
    """A geometry join's cover is cached per process: the second call
    for the same WKB and parameters returns the cached tuple."""
    from geowave_spark.operators import geom_join as GJ

    params = (64, 20, 0)
    wkb = wkb_dumps(box(1_000_000, 1_000_000, 2_000_000, 2_000_000))
    first = GJ._geom_cover(wkb, params)
    assert GJ._POLYFILL_CACHE[(params, wkb)] is first
    assert GJ._geom_cover(wkb, params) is first


def test_polyfill_covers_out_of_domain_geometry():
    """Regression (found by the sf0.1 full-registry oracle sweep): a
    staircase track crossing +180° lost its out-of-domain run — cells
    were enumerated over the CLAMPED bbox but trimmed against the
    UNCLAMPED geometry, so the edge-column cells of the clamped image
    never survived the trim and geom_crosses_join silently missed
    12/1.4M true pairs. The cover must include the clamp image's cells
    (grid_coord's point convention), here the edge-column rows the
    vertical run slides through."""
    import numpy as np

    from geowave_spark.geom.wkb import Geometry
    from geowave_spark.index.zorder import morton_decode

    track = Geometry(
        "LineString",
        [np.array(
            [[178.949112, -17.519352], [180.198224, -17.519352],
             [180.198224, -15.738704], [182.313288, -15.738704]]
        )],
        [],
    )
    cover = {morton_decode(c) for c in polyfill(track, 9, exact_trim=True)}
    # the clamped vertical run slides along x=+180 (last column, gx=511)
    # from the first segment's row up to the top segment's row
    assert (511, 232) in cover and (511, 233) in cover
    assert (510, 231) in cover  # the in-domain start is still covered


def test_polyfill_fully_out_of_domain_degenerates_to_edge():
    import numpy as np

    from geowave_spark.geom.wkb import Geometry
    from geowave_spark.index.zorder import morton_decode

    g = Geometry("LineString", [np.array([[183.0, -17.0], [185.0, -12.0]])], [])
    cover = sorted(morton_decode(c) for c in polyfill(g, 8, exact_trim=True))
    assert cover and all(gx == 255 for gx, _ in cover)  # edge column only
    gys = [gy for _, gy in cover]
    assert gys == list(range(min(gys), max(gys) + 1))  # contiguous rows


def test_polyfill_in_domain_unchanged_by_clamp():
    g = box(10, 10, 20, 20)
    assert polyfill(g, 6, exact_trim=True) == polyfill(g, 6, exact_trim=True)
    from geowave_spark.index.polyfill import _domain_clamped

    assert _domain_clamped(g) is g  # no copy for in-domain geometry


def test_clamp_chain_is_exact_pointwise():
    """Property: for random chains and random points p on them, the
    per-point clamp of p lies ON the clamped chain (the subdivision at
    domain-line crossings makes vertex clipping reproduce the exact
    clamp image — a vertex-only clip would miss edge-sliding runs)."""
    import numpy as np

    from geowave_spark.index.polyfill import _clamp_chain_to_domain

    rng = np.random.default_rng(7)

    def dist_to_polyline(q, chain):
        a, b = chain[:-1], chain[1:]
        d = b - a
        L2 = (d * d).sum(axis=1)
        t = np.clip(((q - a) * d).sum(axis=1) / np.where(L2 == 0, 1, L2), 0, 1)
        proj = a + t[:, None] * d
        return np.sqrt(((proj - q) ** 2).sum(axis=1)).min()

    for _ in range(50):
        n = rng.integers(2, 6)
        # chains spanning well past the domain on both axes
        chain = rng.uniform(-250, 250, size=(n, 2))
        clamped = _clamp_chain_to_domain(chain)
        assert np.abs(clamped).max() <= 180.0 + 1e-12
        for _ in range(20):
            i = rng.integers(0, n - 1)
            t = rng.uniform()
            p = chain[i] + t * (chain[i + 1] - chain[i])
            cp = np.clip(p, -180.0, 180.0)
            assert dist_to_polyline(cp, clamped) < 1e-6, (chain, p)
