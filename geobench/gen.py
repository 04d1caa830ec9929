"""Seeded input generation. Everything the engine sees is produced here
from ``--seed``: points, boxes, polygons and query streams.

Coordinates are integer micro-degrees (the engine's canonical unit).
Polygon vertices sit on half-micro-degree offsets so that the exact
integer oracle (oracle.py) never has to break a tie on a vertex.
"""

from __future__ import annotations

import numpy as np

# data region: 60 x 30 degrees, so 0.05-10 degree windows select
# from a handful of rows up to ~10 % of the table
X0, X1 = -20_000_000, 40_000_000
Y0, Y1 = 30_000_000, 60_000_000
T0 = 1_577_836_800  # 2020-01-01T00:00:00Z, seconds
T_SPAN = 366 * 86_400
N_HOTSPOTS = 5
HOT_FRAC = 0.20
HOT_SIGMA = 300_000  # 0.3 degree


def points(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """``n`` points, HOT_FRAC of them in N_HOTSPOTS gaussian hotspots."""
    hot = rng.random(n) < HOT_FRAC
    cx = rng.integers(X0 + 2_000_000, X1 - 2_000_000, N_HOTSPOTS)
    cy = rng.integers(Y0 + 2_000_000, Y1 - 2_000_000, N_HOTSPOTS)
    which = rng.integers(0, N_HOTSPOTS, n)
    x = rng.integers(X0, X1, n)
    y = rng.integers(Y0, Y1, n)
    x = np.where(hot, cx[which] + (rng.standard_normal(n) * HOT_SIGMA).astype(np.int64), x)
    y = np.where(hot, cy[which] + (rng.standard_normal(n) * HOT_SIGMA).astype(np.int64), y)
    return {
        "event_id": rng.permutation(n).astype(np.int64),
        "x_u": np.clip(x, X0, X1 - 1).astype(np.int64),
        "y_u": np.clip(y, Y0, Y1 - 1).astype(np.int64),
        "ts": (T0 + rng.integers(0, T_SPAN, n)).astype(np.int64),
        "value": rng.random(n),
        "kind": rng.integers(0, 10, n).astype(np.int32),
    }


def points_pdf(p: dict[str, np.ndarray]):
    import pandas as pd

    d = dict(p)
    d["ts"] = pd.to_datetime(p["ts"], unit="s", utc=True)
    return pd.DataFrame(d)


def log_uniform(rng, lo: float, hi: float) -> float:
    return float(np.exp(rng.uniform(np.log(lo), np.log(hi))))


def window_center(rng, p: dict[str, np.ndarray], on_point: bool | None = None) -> tuple[int, int]:
    """Half the windows centre on a stored point (so hotspots get
    queried as often as they hold data), half uniformly in the region."""
    if on_point is None:
        on_point = rng.random() < 0.5
    if on_point:
        i = int(rng.integers(0, len(p["x_u"])))
        return int(p["x_u"][i]), int(p["y_u"][i])
    return int(rng.integers(X0, X1)), int(rng.integers(Y0, Y1))


def window(rng, p, lo_deg: float = 0.05, hi_deg: float = 10.0, u: float | None = None,
           on_point: bool | None = None) -> tuple[int, int, int, int]:
    """Window with a log-uniform side; ``u`` in [0, 1) picks the side's
    quantile instead of a fresh draw (stratified streams)."""
    cx, cy = window_center(rng, p, on_point)
    if u is None:
        w = log_uniform(rng, lo_deg, hi_deg) * 1e6
    else:
        w = float(np.exp(np.log(lo_deg) + u * (np.log(hi_deg) - np.log(lo_deg)))) * 1e6
    h = w * rng.uniform(0.5, 2.0)
    return int(cx - w / 2), int(cy - h / 2), int(cx + w / 2), int(cy + h / 2)


def strata(rng, m: int) -> np.ndarray:
    """One uniform draw from each of ``m`` equal strata of [0, 1), in
    random order."""
    return (rng.permutation(m) + rng.random(m)) / m


def star_polygon(rng, cx: float, cy: float, radius: float) -> np.ndarray:
    """Closed, simple, non-convex ring (star-shaped around its centre)."""
    k = int(rng.integers(8, 17))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    r = radius * rng.uniform(0.35, 1.0, k)
    xs = np.floor(cx + r * np.cos(ang)) + 0.5
    ys = np.floor(cy + r * np.sin(ang)) + 0.5
    ring = np.stack([xs, ys], axis=1)
    return np.vstack([ring, ring[:1]])


def polygon_pool(rng, p, n: int, lo_deg: float, hi_deg: float) -> list[np.ndarray]:
    out = []
    for _ in range(n):
        cx, cy = window_center(rng, p)
        out.append(star_polygon(rng, cx, cy, log_uniform(rng, lo_deg, hi_deg) * 5e5))
    return out


def boxes(rng, p, n: int, lo_deg: float, hi_deg: float) -> dict[str, np.ndarray]:
    """Extent table; centres follow the point distribution (skewed)."""
    xs, ys, ws, hs = [], [], [], []
    for _ in range(n):
        cx, cy = window_center(rng, p)
        w = log_uniform(rng, lo_deg, hi_deg) * 1e6
        xs.append(cx)
        ys.append(cy)
        ws.append(w)
        hs.append(w * rng.uniform(0.5, 2.0))
    xs, ys, ws, hs = map(np.asarray, (xs, ys, ws, hs))
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "x_lo": (xs - ws / 2).astype(np.int64),
        "y_lo": (ys - hs / 2).astype(np.int64),
        "x_hi": (xs + ws / 2).astype(np.int64),
        "y_hi": (ys + hs / 2).astype(np.int64),
    }
