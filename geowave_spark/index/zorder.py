"""Z-order (Morton) space-filling-curve index over lon/lat.

Reproduces the *semantics* of the reference's SFC layer:

- cell assignment  ≙ insertion-id computation
  (core/index/src/main/java/org/locationtech/geowave/core/index/sfc/zorder/ZOrderSFC.java,
   tier selection TieredSFCIndexStrategy.java:345-407)
- bbox range decomposition ≙ HilbertSFC.decomposeRange /
  BinnedSFCUtils.getQueryRanges (core/index/.../sfc/binned/BinnedSFCUtils.java:36)
- parent-cell derivation ≙ TieredSFCIndexStrategy.reprojectToTier
  (core/index/.../sfc/tiered/TieredSFCIndexStrategy.java:514-535)

Everything here is driver-side / numpy; the executor hot path uses the
**native Spark column expressions** in ``geowave_spark.index.native`` so
cell assignment stays inside whole-stage codegen (no Python at all).

Grid model: at resolution ``res`` (bits per dimension), the world
[-180,180]² in micro-degrees is a 2^res × 2^res grid;
``gx = (x_u + 180e6) * 2^res // 360e6`` (exact integer arithmetic), and
the cell id is the Morton interleave ``morton_encode(gx, gy)`` — x in
even bits, y in odd bits. A (res, cell) pair identifies a quad-tree
node; an ancestor at res' < res is ``cell >> 2*(res-res')``.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from geowave_spark import LON_OFF_U, MAX_RES, WORLD_X_U

_M1 = 0x5555555555555555
_M2 = 0x3333333333333333
_M4 = 0x0F0F0F0F0F0F0F0F
_M8 = 0x00FF00FF00FF00FF
_M16 = 0x0000FFFF0000FFFF
_M32 = 0x00000000FFFFFFFF


def _spread(x):
    """Spread the low 32 bits of x so bit i moves to bit 2i. Works on
    python ints and numpy uint64 arrays alike."""
    x = x & _M32
    x = (x | (x << 16)) & _M16
    x = (x | (x << 8)) & _M8
    x = (x | (x << 4)) & _M4
    x = (x | (x << 2)) & _M2
    x = (x | (x << 1)) & _M1
    return x


def _squash(x):
    """Inverse of _spread: gather even bits back into the low 32 bits."""
    x = x & _M1
    x = (x | (x >> 1)) & _M2
    x = (x | (x >> 2)) & _M4
    x = (x | (x >> 4)) & _M8
    x = (x | (x >> 8)) & _M16
    x = (x | (x >> 16)) & _M32
    return x


def morton_encode(gx, gy):
    """Interleave grid coords: x in even bits, y in odd bits."""
    return _spread(gx) | (_spread(gy) << 1)


def morton_decode(cell):
    return _squash(cell), _squash(cell >> 1)


def grid_coord(x_u, res: int):
    """Micro-degree coordinate -> grid coordinate at ``res`` bits.

    Exact integer arithmetic (matches the native Spark expression and the
    DuckDB oracle SQL bit-for-bit). Clamps to the domain edge so
    x_u == +180e6 lands in the last cell.
    """
    from geowave_spark.index.crs import grid_coord_crs

    return grid_coord_crs(x_u, res, -LON_OFF_U, WORLD_X_U)


def cells_of_points(x_u: np.ndarray, y_u: np.ndarray, res: int) -> np.ndarray:
    gx = grid_coord(x_u, res).astype(np.uint64)
    gy = grid_coord(y_u, res).astype(np.uint64)
    return morton_encode(gx, gy).astype(np.int64)


@lru_cache(maxsize=500)  # decomposition cache size per HilbertSFC.java:97-100
def bbox_ranges(
    x_lo_u: int,
    y_lo_u: int,
    x_hi_u: int,
    y_hi_u: int,
    res: int,
    max_ranges: int = 64,
) -> tuple[tuple[int, int], ...]:
    """Decompose a bbox (micro-degrees, inclusive) into ≤ ~max_ranges
    contiguous Morton ranges [lo, hi] at ``res``.

    Quad-tree descent: a quad node is a contiguous Morton range; nodes
    fully inside the grid-rect are emitted whole, partial nodes are split
    until the budget is spent, then emitted over-approximated (coarse
    ranges stay a superset of the exact cells — refinement filters the
    rest, mirroring the loose-constraint + exact-refine split of
    docs/content/devguide/045-query.adoc:13-15).
    """
    gx_lo = grid_coord(x_lo_u, res)
    gx_hi = grid_coord(x_hi_u, res)
    gy_lo = grid_coord(y_lo_u, res)
    gy_hi = grid_coord(y_hi_u, res)
    return ranges_from_grid(gx_lo, gx_hi, gy_lo, gy_hi, res, max_ranges)


def ranges_from_grid(
    gx_lo: int,
    gx_hi: int,
    gy_lo: int,
    gy_hi: int,
    res: int,
    max_ranges: int = 64,
) -> tuple[tuple[int, int], ...]:
    """Grid-space half of bbox_ranges — shared with the custom-CRS
    index path (index/crs.py), where only the value→grid transform
    differs."""
    out: list[tuple[int, int]] = []
    # stack entries: (node_res, gx, gy) — node covers grid square of side
    # 2^(res-node_res) at position (gx<<k, gy<<k)
    stack = [(0, 0, 0)]
    while stack:
        node_res, nx, ny = stack.pop()
        k = res - node_res
        side = 1 << k
        cx_lo, cx_hi = nx << k, ((nx + 1) << k) - 1
        cy_lo, cy_hi = ny << k, ((ny + 1) << k) - 1
        if cx_hi < gx_lo or cx_lo > gx_hi or cy_hi < gy_lo or cy_lo > gy_hi:
            continue
        lo = morton_encode(cx_lo, cy_lo)
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
    # merge adjacent/overlapping ranges (range compaction, maxRangeDecomposition analog)
    merged: list[list[int]] = []
    for lo, hi in out:
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return tuple((lo, hi) for lo, hi in merged)


def pick_res_for_extent(x_span_u: int, y_span_u: int, max_cells: int = 64) -> int:
    """Pick the finest resolution at which an extent's bbox covers at most
    ``max_cells`` cells — tier-selection semantics of
    TieredSFCIndexStrategy.getRowIds (core/index/.../TieredSFCIndexStrategy.java:345-367),
    with max_cells ≙ maxEstimatedDuplicateIds (cap 80: GeoWaveIndexedRDD.java:119).
    """
    span = max(int(x_span_u), int(y_span_u), 1)
    for res in range(MAX_RES, -1, -1):
        cell_span = max(WORLD_X_U >> res, 1)  # micro-degrees per cell (approx)
        ncells = (span // cell_span + 2) ** 2
        if ncells <= max_cells:
            return res
    return 0
