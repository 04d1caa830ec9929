"""Independent reference computations (numpy only, no Spark, no engine
code) over the same seeded inputs, and the order-insensitive result
fingerprint shared with the Spark side (runner.fingerprint_expr).

Fingerprint: per row h = fold(cols) with h <- pmod(h * P + c, M), mixed
once more, then summed over rows. Every intermediate stays below 2**63,
so the Spark (ANSI, BIGINT) and numpy (int64) folds agree exactly.
"""

from __future__ import annotations

import numpy as np

P = 1_000_003
M = 2_147_483_647
MIX = 2_654_435_761


def fingerprint(*cols) -> tuple[int, int]:
    """(row count, order-insensitive hash) of equal-length int columns."""
    n = len(cols[0]) if cols else 0
    h = np.zeros(n, dtype=np.int64)
    for c in cols:
        h = np.mod(h * P + np.asarray(c, dtype=np.int64), M)
    h = np.mod(h * MIX, M)
    return int(n), int(h.sum())


# ----------------------------------------------------------- geometry


def bbox_mask(p, x0, y0, x1, y1, xs=None, ys=None):
    xs = p["x_u"] if xs is None else xs
    ys = p["y_u"] if ys is None else ys
    return (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)


def points_in_ring(xs: np.ndarray, ys: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Boundary-inclusive point-in-polygon, exact integer arithmetic.
    Ring vertices are half-integers and points integers, so after
    doubling every vertex coordinate is odd and every point coordinate
    even: a horizontal ray never passes through a vertex and no
    crossing test needs a tie rule."""
    px = np.asarray(xs, dtype=np.int64) * 2
    py = np.asarray(ys, dtype=np.int64) * 2
    v = np.rint(ring * 2).astype(np.int64)
    inside = np.zeros(len(px), dtype=bool)
    on_edge = np.zeros(len(px), dtype=bool)
    for (ax, ay), (bx, by) in zip(v[:-1], v[1:]):
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        within = (
            (px >= min(ax, bx)) & (px <= max(ax, bx))
            & (py >= min(ay, by)) & (py <= max(ay, by))
        )
        on_edge |= (cross == 0) & within
        straddle = (ay > py) != (by > py)
        # ray to +x crosses the edge iff the point lies left of it,
        # oriented upward
        left = cross > 0 if by > ay else cross < 0
        inside ^= straddle & left
    return inside | on_edge


class SortedPoints:
    """Points sorted by x for slab lookups (join and polygon oracles)."""

    def __init__(self, p):
        self.order = np.argsort(p["x_u"], kind="stable")
        self.x = p["x_u"][self.order]
        self.y = p["y_u"][self.order]
        self.eid = p["event_id"][self.order]

    def in_box(self, x0, y0, x1, y1) -> np.ndarray:
        lo = np.searchsorted(self.x, x0, "left")
        hi = np.searchsorted(self.x, x1, "right")
        y = self.y[lo:hi]
        return lo + np.nonzero((y >= y0) & (y <= y1))[0]


def box_join(sp: SortedPoints, b) -> tuple[int, int]:
    eids, keys = [], []
    for k, x0, y0, x1, y1 in zip(b["c_custkey"], b["x_lo"], b["y_lo"], b["x_hi"], b["y_hi"]):
        idx = sp.in_box(x0, y0, x1, y1)
        eids.append(sp.eid[idx])
        keys.append(np.full(len(idx), k, dtype=np.int64))
    return fingerprint(np.concatenate(eids), np.concatenate(keys))


def polygon_select(sp: SortedPoints, ring: np.ndarray) -> np.ndarray:
    """Indices (into sp) of points the ring covers."""
    x0, y0 = np.floor(ring.min(axis=0)).astype(np.int64)
    x1, y1 = np.ceil(ring.max(axis=0)).astype(np.int64)
    idx = sp.in_box(x0, y0, x1, y1)
    return idx[points_in_ring(sp.x[idx], sp.y[idx], ring)]


def geom_join(sp: SortedPoints, rings: list[np.ndarray]) -> tuple[int, int]:
    eids, keys = [], []
    for k, ring in enumerate(rings):
        idx = polygon_select(sp, ring)
        eids.append(sp.eid[idx])
        keys.append(np.full(len(idx), k, dtype=np.int64))
    return fingerprint(np.concatenate(eids), np.concatenate(keys))


def knn(p, qx: int, qy: int, k: int) -> tuple[int, int]:
    d2 = (p["x_u"] - qx) ** 2 + (p["y_u"] - qy) ** 2
    order = np.lexsort((p["event_id"], d2))[:k]
    return fingerprint(p["event_id"][order], d2[order], np.arange(1, len(order) + 1))
