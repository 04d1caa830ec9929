"""Polygon → cell-set cover ("polyfill") at a resolution.

Replaces the reference's insertion-id computation for extents
(TieredSFCIndexStrategy.getRowIdsAtTier / decomposeRangesForEntry,
core/index/.../sfc/tiered/TieredSFCIndexStrategy.java:369-407) and the
H3 polyfill-with-edge-buffer over-approximation the reference uses for
spatial binning (core/geotime/.../binning/H3BinningHelper.java:41-185):
cells whose rectangle intersects the geometry are kept (superset-safe —
exact refinement runs after the index join).
"""

from __future__ import annotations

import numpy as np

from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U, X_SCALE
from geowave_spark.geom.predicates import intersects
from geowave_spark.geom.wkb import Geometry, box
from geowave_spark.index.zorder import grid_coord, morton_encode


def _segs_hit_rects(
    chain: np.ndarray,
    X0: np.ndarray,
    Y0: np.ndarray,
    X1: np.ndarray,
    Y1: np.ndarray,
) -> np.ndarray:
    """(C,) bool: does any segment of ``chain`` intersect each closed
    rect? One vectorized separating-axis pass over the full
    (segments × cells) matrix — segment bbox overlap AND NOT(all four
    rect corners strictly on one side of the segment's line). Exact for
    closed rects (boundary contact counts → never under-covers), and
    replaces a per-cell Python call with ~10 numpy ops per chain."""
    a, b = chain[:-1], chain[1:]
    ax, ay = a[:, 0:1], a[:, 1:2]  # (S, 1)
    bx, by = b[:, 0:1], b[:, 1:2]
    bb = (
        (np.minimum(ax, bx) <= X1)
        & (np.maximum(ax, bx) >= X0)
        & (np.minimum(ay, by) <= Y1)
        & (np.maximum(ay, by) >= Y0)
    )  # (S, C)
    dx, dy = bx - ax, by - ay
    f00 = dy * (X0 - ax) - dx * (Y0 - ay)
    f01 = dy * (X0 - ax) - dx * (Y1 - ay)
    f10 = dy * (X1 - ax) - dx * (Y0 - ay)
    f11 = dy * (X1 - ax) - dx * (Y1 - ay)
    pos = (f00 > 0) & (f01 > 0) & (f10 > 0) & (f11 > 0)
    neg = (f00 < 0) & (f01 < 0) & (f10 < 0) & (f11 < 0)
    return (bb & ~(pos | neg)).any(axis=0)


_DOM_X = LON_OFF_U / X_SCALE  # grid domain half-width, degrees (both axes:
_DOM_Y = LAT_OFF_U / X_SCALE  # the y axis shares the 360° span, §zorder)


def _clamp_chain_to_domain(chain: np.ndarray) -> np.ndarray:
    """Exact clamp image of a polyline into the grid domain: subdivide
    every segment at its crossings of the four domain lines, THEN clip
    vertices. Within each resulting piece both coordinates are affine
    and either in-domain (identity) or past one edge (constant after
    clipping), so vertex clipping of the subdivided chain reproduces
    the true per-point clamp image — the path that slides ALONG the
    domain edge while the original runs outside it. Vertex-only
    clipping of the raw chain would replace that edge-sliding run with
    a chord and under-cover edge cells."""
    pts = [chain[0]]
    for i in range(len(chain) - 1):
        a, b = chain[i], chain[i + 1]
        ts = []
        for c, lim in ((0, _DOM_X), (1, _DOM_Y)):
            for bound in (-lim, lim):
                fa, fb = a[c] - bound, b[c] - bound
                if (fa < 0 < fb) or (fb < 0 < fa):
                    ts.append(fa / (fa - fb))
        for t in sorted(ts):
            pts.append(a + t * (b - a))
        pts.append(b)
    out = np.asarray(pts, dtype=np.float64)
    out[:, 0] = np.clip(out[:, 0], -_DOM_X, _DOM_X)
    out[:, 1] = np.clip(out[:, 1], -_DOM_Y, _DOM_Y)
    return out


def _domain_clamped(geom: Geometry) -> Geometry:
    """Clamp a geometry into the grid domain for COVER purposes,
    matching grid_coord's per-point clamp convention. Candidate
    completeness requires it: a point p of the geometry beyond ±180°
    keys (via grid_coord) into the edge cell, so the cover must include
    the cells of clamp(p) — enumerating cells over the clamped bbox but
    trimming against the UNCLAMPED geometry silently dropped exactly
    those edge cells (found by the sf0.1 full-registry oracle sweep:
    12/1.4M pairs missing from geom_crosses_join on tracks crossing
    +180°). In-domain geometries return unchanged (no copy)."""
    needs = any(
        p[:, 0].min() < -_DOM_X or p[:, 0].max() > _DOM_X
        or p[:, 1].min() < -_DOM_Y or p[:, 1].max() > _DOM_Y
        for p in geom.parts
    )
    if not needs:
        return geom
    if geom.gtype in ("Point", "MultiPoint"):
        p = geom.parts[0].copy()
        p[:, 0] = np.clip(p[:, 0], -_DOM_X, _DOM_X)
        p[:, 1] = np.clip(p[:, 1], -_DOM_Y, _DOM_Y)
        return Geometry(geom.gtype, [p], geom.poly_ring_counts)
    parts = [_clamp_chain_to_domain(p) for p in geom.parts]
    return Geometry(geom.gtype, parts, geom.poly_ring_counts)


def polyfill(geom: Geometry, res: int, exact_trim: bool = True) -> list[int]:
    """Cells at ``res`` whose rect intersects the CLAMP IMAGE of
    ``geom`` in the grid domain (degree coords) — the clamp matches
    grid_coord's point convention, so covers stay candidate-complete
    for geometry extending past ±180° (see _domain_clamped).

    ``exact_trim=False`` returns the bbox cover (cheaper; still a
    superset). With trim, candidate cell rects are tested against the
    geometry — the RDDUtils.trimIndexIds analog
    (analytics/spark/.../RDDUtils.java:158-184) — in ONE vectorized
    pass per chain over the whole candidate grid (plus one batched
    center-in-polygon call for interior cells), not per cell.
    """
    geom = _domain_clamped(geom)
    x0, y0, x1, y1 = geom.bounds
    gx0 = int(grid_coord(round(x0 * X_SCALE), res))
    gx1 = int(grid_coord(round(x1 * X_SCALE), res))
    gy0 = int(grid_coord(round(y0 * X_SCALE), res))
    gy1 = int(grid_coord(round(y1 * X_SCALE), res))
    nx, ny = gx1 - gx0 + 1, gy1 - gy0 + 1
    gxs = np.tile(np.arange(gx0, gx1 + 1), ny)
    gys = np.repeat(np.arange(gy0, gy1 + 1), nx)
    if exact_trim and len(gxs) > 1:
        n = 1 << res
        X0 = (gxs * WORLD_X_U / n - LON_OFF_U) / X_SCALE
        X1 = ((gxs + 1) * WORLD_X_U / n - LON_OFF_U) / X_SCALE
        Y0 = (gys * WORLD_X_U / n - LAT_OFF_U) / X_SCALE
        Y1 = ((gys + 1) * WORLD_X_U / n - LAT_OFF_U) / X_SCALE
        if geom.gtype in ("Point", "MultiPoint"):
            p = geom.parts[0]
            keep = (
                (p[:, 0:1] >= X0) & (p[:, 0:1] <= X1)
                & (p[:, 1:2] >= Y0) & (p[:, 1:2] <= Y1)
            ).any(axis=0)
        else:
            keep = np.zeros(len(gxs), dtype=bool)
            for chain in geom.parts:
                keep |= _segs_hit_rects(chain, X0, Y0, X1, Y1)
            if geom.gtype in ("Polygon", "MultiPolygon") and not keep.all():
                from geowave_spark.geom.predicates import points_in_polygon

                rest = ~keep
                inside = points_in_polygon(
                    (X0[rest] + X1[rest]) / 2, (Y0[rest] + Y1[rest]) / 2, geom
                )
                keep[np.flatnonzero(rest)[inside]] = True
        gxs, gys = gxs[keep], gys[keep]
    return [int(morton_encode(gx, gy)) for gx, gy in zip(gxs, gys)]

