import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from geowave_spark.index.hilbert import hilbert_encode
from oracles import hilbert_decode


def test_known_order_res1():
    # canonical res-1 Hilbert: (0,0)->0 (1,0)->3 (0,1)->1 (1,1)->2
    assert hilbert_encode(0, 0, 1) == 0
    assert hilbert_encode(0, 1, 1) == 1
    assert hilbert_encode(1, 1, 1) == 2
    assert hilbert_encode(1, 0, 1) == 3


def test_adjacency_res4():
    # consecutive curve positions are grid neighbors (the locality property)
    n = 1 << 4
    prev = None
    for d in range(n * n):
        x, y = hilbert_decode(d, 4)
        if prev is not None:
            assert abs(x - prev[0]) + abs(y - prev[1]) == 1
        prev = (x, y)


def test_bijection_res4():
    n = 1 << 4
    seen = set()
    for gx in range(n):
        for gy in range(n):
            seen.add(hilbert_encode(gx, gy, 4))
    assert seen == set(range(n * n))


@given(st.integers(0, 2**16 - 1), st.integers(0, 2**16 - 1))
@settings(max_examples=200)
def test_roundtrip_res16(gx, gy):
    d = hilbert_encode(gx, gy, 16)
    assert hilbert_decode(d, 16) == (gx, gy)


def test_vectorized_matches_scalar():
    rng = np.random.default_rng(3)
    gx = rng.integers(0, 2**12, 500)
    gy = rng.integers(0, 2**12, 500)
    d = hilbert_encode(gx, gy, 12)
    xs, ys = hilbert_decode(d, 12)
    assert np.array_equal(xs, gx)
    assert np.array_equal(ys, gy)
    for i in range(0, 500, 83):
        assert int(d[i]) == hilbert_encode(int(gx[i]), int(gy[i]), 12)


def test_hilbert_ranges_exact_and_bounded():
    """Unbounded decomposition == exact hilbert cell set of the rect;
    bounded decomposition is a superset with ≤ ~max_ranges ranges
    (HilbertSFC.decomposeRange parity)."""
    import numpy as np

    from geowave_spark.index.hilbert import hilbert_encode, hilbert_ranges
    from geowave_spark.index.zorder import grid_coord

    rng = np.random.default_rng(7)
    for _ in range(25):
        res = int(rng.integers(2, 9))
        x0, x1 = sorted(rng.integers(-180_000_000, 180_000_000, 2).tolist())
        y0, y1 = sorted(rng.integers(-180_000_000, 180_000_000, 2).tolist())
        gx0, gx1 = int(grid_coord(x0, res)), int(grid_coord(x1, res))
        gy0, gy1 = int(grid_coord(y0, res)), int(grid_coord(y1, res))
        gx, gy = np.meshgrid(np.arange(gx0, gx1 + 1), np.arange(gy0, gy1 + 1))
        exact = set(hilbert_encode(gx.ravel(), gy.ravel(), res).tolist())
        covered = set()
        for lo, hi in hilbert_ranges(x0, y0, x1, y1, res, max_ranges=10**9):
            covered.update(range(lo, hi + 1))
        assert covered == exact
        bcov = set()
        br = hilbert_ranges(x0, y0, x1, y1, res, max_ranges=8)
        for lo, hi in br:
            bcov.update(range(lo, hi + 1))
        assert exact <= bcov and len(br) <= 16
