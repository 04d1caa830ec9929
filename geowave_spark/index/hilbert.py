"""Vectorized Hilbert curve (numpy), the reference's primary SFC.

Semantics match core/index/src/main/java/org/locationtech/geowave/core/index/sfc/hilbert/HilbertSFC.java
(compact Hilbert via uzaygezen, 2-D): a bijection between (gx, gy) grid
coordinates at ``res`` bits/dim and a distance along the curve.
Implementation is the standard rotate/reflect iteration (public
algorithm, Wikipedia "Hilbert curve"), vectorized so one numpy pass per
bit handles a whole Arrow batch.

The engine's default index is Z-order (cheaper: pure JVM expressions,
parent-cell = shift); Hilbert is provided for locality-sensitive range
scans where fewer, longer ranges matter (range count comparison is
exercised in tests). Both share the same grid model, so query semantics
are identical.
"""

from __future__ import annotations

import numpy as np


def hilbert_encode(gx, gy, res: int):
    """(gx, gy) -> hilbert distance; accepts ints or int64 ndarrays."""
    scalar = not isinstance(gx, np.ndarray)
    x = np.atleast_1d(np.asarray(gx, dtype=np.int64)).copy()
    y = np.atleast_1d(np.asarray(gy, dtype=np.int64)).copy()
    d = np.zeros_like(x)
    n1 = (np.int64(1) << res) - 1
    s = np.int64(1) << (res - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant (reflection over the full domain, per xy2d)
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, n1 - x, x)
        y_f = np.where(flip, n1 - y, y)
        x_new = np.where(swap, y_f, x_f)
        y_new = np.where(swap, x_f, y_f)
        x, y = x_new, y_new
        s >>= 1
    return int(d[0]) if scalar else d


def hilbert_ranges(
    x_lo_u: int,
    y_lo_u: int,
    x_hi_u: int,
    y_hi_u: int,
    res: int,
    max_ranges: int = 64,
) -> tuple[tuple[int, int], ...]:
    """Decompose a bbox into ≤ ~max_ranges contiguous HILBERT ranges at
    ``res`` — the HilbertSFC.decomposeRange analog
    (core/index/.../sfc/hilbert/HilbertSFC.java:186-211, backtracking
    query builder). Same quad-tree descent as zorder.bbox_ranges; the
    self-similarity of the curve makes every depth-k quad node a
    contiguous hilbert interval [m·4^(res-k), (m+1)·4^(res-k)) where m
    is the node's hilbert index on the depth-k curve."""
    from geowave_spark.index.zorder import grid_coord

    gx_lo = grid_coord(x_lo_u, res)
    gx_hi = grid_coord(x_hi_u, res)
    gy_lo = grid_coord(y_lo_u, res)
    gy_hi = grid_coord(y_hi_u, res)

    out: list[tuple[int, int]] = []
    stack = [(0, 0, 0)]
    while stack:
        node_res, nx, ny = stack.pop()
        k = res - node_res
        side = 1 << k
        cx_lo, cx_hi = nx << k, ((nx + 1) << k) - 1
        cy_lo, cy_hi = ny << k, ((ny + 1) << k) - 1
        if cx_hi < gx_lo or cx_lo > gx_hi or cy_hi < gy_lo or cy_lo > gy_hi:
            continue
        m = 0 if node_res == 0 else hilbert_encode(nx, ny, node_res)
        lo = m * side * side
        hi = lo + side * side - 1
        fully_inside = (
            cx_lo >= gx_lo and cx_hi <= gx_hi and cy_lo >= gy_lo and cy_hi <= gy_hi
        )
        if fully_inside or node_res == res or len(out) + len(stack) >= max_ranges:
            out.append((lo, hi))
            continue
        for q in range(4):
            stack.append((node_res + 1, (nx << 1) | (q & 1), (ny << 1) | (q >> 1)))

    out.sort()
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return tuple((lo, hi) for lo, hi in merged)
