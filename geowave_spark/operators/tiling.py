"""Raster tiling: tile assignment, mosaicking/merge, re-tile (resize).

Reference semantics (extensions/adapters/raster/.../RasterDataAdapter.java):

- convertToIndex (:444-550): a coverage is clamped to index bounds, the
  pyramid level whose cell resolution best matches the native resolution
  is chosen (ratio closest to 1.0 from below — substrategyMap.floorEntry),
  and for each grid cell covering the coverage's footprint a
  tileSize×tileSize tile is cut out by resampling, with background fill
  outside the footprint (MosaicPerPyramidLevelBuilder :552-830).
- merge (merge/NoDataMergeStrategy.java): colliding writes to one cell
  keep, per pixel, the first non-no-data sample.
- resize (analytics/spark/.../resize/RasterTileResizeSparkRunner.java:100-180):
  flatMap to the new grid's keys → group by new key → mosaic per key.

Engine: cells are the engine's Morton grid at the chosen level; the
pixel work is Arrow-batched (applyInPandas / mapInPandas over numpy),
the keying/grouping is native. Tile IDs are (level, gx, gy) — the
row-for-row comparable output the north rule requires.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U
from geowave_spark.raster.codec import decode_image

TILE_SIZE = 256  # default tile size, RasterDataAdapter.java:152
NO_DATA = 0  # background/no-data sample value for merges


def pick_level(extent_x_u: int, native_px: int, tile_size: int = TILE_SIZE, max_level: int = 24) -> int:
    """Pyramid-level choice: finest level whose tile ground-resolution is
    not finer than the native pixel resolution (ratio ≤ 1 closest to 1,
    the floorEntry(1.0+ε) rule of RasterDataAdapter.java:495-534).

    native ground-res = extent/native_px; level ground-res =
    (world/2^ℓ)/tile_size. Choose max ℓ with level_res ≥ native_res."""
    native_res = extent_x_u / max(native_px, 1)
    for lvl in range(max_level, -1, -1):
        level_res = (WORLD_X_U / (1 << lvl)) / tile_size
        if level_res >= native_res:
            return lvl
    return 0


def image_extent_cols(half_span_u: int):
    """Extent box of a geo-located image around its center point."""
    return [
        (F.col("x_u") - half_span_u).alias("x_lo"),
        (F.col("y_u") - half_span_u).alias("y_lo"),
        (F.col("x_u") + half_span_u).alias("x_hi"),
        (F.col("y_u") + half_span_u).alias("y_hi"),
    ]


def box_tile_cover(
    boxes: DataFrame,
    level: int,
    key: str = "c_custkey",
) -> DataFrame:
    """Tiles covered by each extent box (x_lo..y_hi µdeg) at ``level`` —
    the vector-side tile assignment (raster↔vector join keying,
    RasterDataAdapter.convertToIndex footprint walk :444-550). Native
    corner grid coords + sequence-explode; output (key, tx, ty)."""
    n = 1 << level

    def grid(col, off):
        g = F.call_function(
            "div", (F.col(col).cast("long") + F.lit(off)) * F.lit(n), F.lit(WORLD_X_U)
        )
        return F.least(F.greatest(g, F.lit(0)), F.lit(n - 1))

    return (
        boxes.withColumn("_tx0", grid("x_lo", LON_OFF_U))
        .withColumn("_tx1", grid("x_hi", LON_OFF_U))
        .withColumn("_ty0", grid("y_lo", LAT_OFF_U))
        .withColumn("_ty1", grid("y_hi", LAT_OFF_U))
        .withColumn("tx", F.explode(F.sequence("_tx0", "_tx1")))
        .withColumn("ty", F.explode(F.sequence("_ty0", "_ty1")))
        .select(key, "tx", "ty")
    )


def _tile_bounds(level: int, tx: int, ty: int):
    n = 1 << level
    x_lo = tx * WORLD_X_U // n - LON_OFF_U
    x_hi = (tx + 1) * WORLD_X_U // n - LON_OFF_U
    y_lo = ty * WORLD_X_U // n - LAT_OFF_U
    y_hi = (ty + 1) * WORLD_X_U // n - LAT_OFF_U
    return x_lo, y_lo, x_hi, y_hi


def cut_tile(
    img: np.ndarray,
    img_box: tuple[int, int, int, int],
    level: int,
    tx: int,
    ty: int,
    tile_size: int = TILE_SIZE,
    background: int = NO_DATA,
) -> np.ndarray:
    """Resample the overlapping part of ``img`` (covering img_box in µdeg,
    row 0 = north/y_hi) into the (level, tx, ty) tile; background fill
    outside the footprint — the MosaicPerPyramidLevelBuilder per-cell cut
    (RasterDataAdapter.java:552-830), nearest-neighbor, integer math.

    Multi-band / typed: ``img`` may be (h, w) or (h, w, bands) of any
    sample dtype (the DataBuffer type generality of
    RasterDataAdapter.java:444-550); ``background`` may be a scalar or
    a per-band sequence (backgroundValuesPerBand). The output keeps the
    input's band shape and dtype."""
    ix_lo, iy_lo, ix_hi, iy_hi = img_box
    tx_lo, ty_lo, tx_hi, ty_hi = _tile_bounds(level, tx, ty)
    h, w = img.shape[:2]
    out = np.empty((tile_size, tile_size) + img.shape[2:], dtype=img.dtype)
    out[...] = np.asarray(background, dtype=img.dtype)
    # tile pixel centers in µdeg
    px = tx_lo + ((np.arange(tile_size) * 2 + 1) * (tx_hi - tx_lo)) // (2 * tile_size)
    py = ty_hi - ((np.arange(tile_size) * 2 + 1) * (ty_hi - ty_lo)) // (2 * tile_size)
    # map to source pixel indices
    sx = ((px - ix_lo) * w) // max(ix_hi - ix_lo, 1)
    sy = ((iy_hi - py) * h) // max(iy_hi - iy_lo, 1)
    mx = (sx >= 0) & (sx < w)
    my = (sy >= 0) & (sy < h)
    if mx.any() and my.any():
        sub = img[np.clip(sy, 0, h - 1)][:, np.clip(sx, 0, w - 1)]
        mask = my[:, None] & mx[None, :]
        if img.ndim == 3:
            mask = mask[:, :, None]
        out = np.where(mask, sub, out)
    return out


def merge_no_data(acc: np.ndarray, tile: np.ndarray, no_data=NO_DATA) -> np.ndarray:
    """NoDataMergeStrategy per-sample merge: a sample in ``acc`` equal
    to its band's no-data value is filled from ``tile`` (first
    non-no-data writer wins — merge/nodata/NoDataMergeStrategy.java).
    ``no_data`` may be scalar or per-band."""
    nd = np.asarray(no_data, dtype=acc.dtype)
    return np.where(acc == nd, tile, acc)


def tile_cut_and_merge(
    images: DataFrame,
    half_span_u: int,
    tile_size: int = TILE_SIZE,
    level: int | None = None,
    ensure_contiguous: bool = False,
    bands: int = 1,
    dtype: str = "uint8",
    background=NO_DATA,
) -> DataFrame:
    """Full raster ingest: assign → cut pixel tiles → merge collisions
    per tile with no-data-first-wins (NoDataMergeStrategy semantics).
    Returns (level, tx, ty, n_contrib, tile bytes-as-binary).

    Execution shape — TWO-PHASE merge, the reference's server-side
    mergeable-tile pattern (core/store/.../aggregate/MergingAggregation.java
    + RasterTileMergeStrategy: partial tile merges happen where the data
    lives, only merged partials cross the network):

      phase 1 (map side, NO shuffle): cut + merge each input
        partition's contributions per tile into ONE partial tile —
        all the pixel work happens here, balanced by input partitions,
        so a dense hotspot tile with thousands of contributors is
        partially merged in parallel instead of serializing in one
        reduce task;
      phase 2: shuffle only the partials (one ~tile_size² row per
        (tile, partition) — orders of magnitude fewer rows/bytes than
        the raw contributions) and fold them in ``min_id`` order.

    Correctness of the split: the per-pixel rule "first non-no-data
    writer wins, writers ordered by image_id" is associative, and the
    image table's partitions are contiguous image_id ranges (and rows
    arrive id-ordered within a partition/batch), so every partial
    covers a disjoint id interval and folding partials by their min id
    reproduces the exact sequential merge — bit-identical to the
    single-phase result.

    The id-contiguity precondition is VALIDATED, not assumed: each
    partial carries its (min_id, max_id) interval and phase 2 raises if
    two partials of the same tile have overlapping intervals (a caller
    passed a shuffled/re-read image table). ``ensure_contiguous=True``
    restores the invariant up front with an explicit
    ``repartitionByRange(image_id)`` + in-partition sort — one extra
    shuffle of the raw image rows, so it is opt-in; the default path
    stays shuffle-free for id-ordered sources (spark.range,
    id-sorted parquet).

    Multi-band / typed rasters (RasterDataAdapter DataBuffer
    generality, extensions/adapters/raster/.../RasterDataAdapter.java:444-550):
    ``bands``/``dtype`` set the sample model, ``background`` the
    no-data fill — a scalar or a per-band sequence
    (backgroundValuesPerBand). The merge rule is per-band no-data
    first-wins (merge_no_data), identical in both phases, so the
    two-phase split stays bit-exact for any sample model."""
    if level is None:
        w0 = images.select(F.first("w")).first()[0]
        level = pick_level(2 * half_span_u, int(w0), tile_size)
    lvl = int(level)
    if ensure_contiguous:
        images = images.repartitionByRange("image_id").sortWithinPartitions(
            "image_id"
        )
    # carry the payload through the explode — narrow op, no join, keeps
    # the source's id-range partitioning (required by the phase split)
    assigned = images.select(
        "image_id", "bytes", "fmt", *image_extent_cols(half_span_u)
    )
    n = 1 << lvl

    def grid(col, off):
        g = F.call_function(
            "div", (F.col(col).cast("long") + F.lit(off)) * F.lit(n), F.lit(WORLD_X_U)
        )
        return F.least(F.greatest(g, F.lit(0)), F.lit(n - 1))

    pairs = (
        assigned.withColumn("_tx0", grid("x_lo", LON_OFF_U))
        .withColumn("_tx1", grid("x_hi", LON_OFF_U))
        .withColumn("_ty0", grid("y_lo", LAT_OFF_U))
        .withColumn("_ty1", grid("y_hi", LAT_OFF_U))
        .withColumn("tx", F.explode(F.sequence("_tx0", "_tx1")))
        .withColumn("ty", F.explode(F.sequence("_ty0", "_ty1")))
        .select("tx", "ty", "image_id", "bytes", "fmt", "x_lo", "y_lo", "x_hi", "y_hi")
    )

    np_dtype = np.dtype(dtype)
    tile_shape = (tile_size, tile_size) if bands == 1 else (tile_size, tile_size, bands)
    bg = background if np.isscalar(background) else np.asarray(background, dtype=np_dtype)

    def cut_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Phase 1: per Arrow batch, merge contributions per tile into
        one partial (batches are id-contiguous → disjoint id ranges)."""
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["tx", "ty", "image_id"], kind="stable")
            out = []
            for (tx, ty), g in pdf.groupby(["tx", "ty"], sort=False):
                acc = np.full(tile_shape, bg, dtype=np_dtype)
                for row in g.itertuples(index=False):
                    img = decode_image(row.bytes, row.fmt)
                    t = cut_tile(
                        img,
                        (row.x_lo, row.y_lo, row.x_hi, row.y_hi),
                        lvl,
                        int(tx),
                        int(ty),
                        tile_size,
                        background=bg,
                    )
                    acc = merge_no_data(acc, t, no_data=bg)
                out.append(
                    (
                        int(tx),
                        int(ty),
                        str(g["image_id"].iloc[0]),
                        str(g["image_id"].iloc[-1]),
                        len(g),
                        acc.tobytes(),
                    )
                )
            yield pd.DataFrame(
                out, columns=["tx", "ty", "min_id", "max_id", "n_part", "ptile"]
            )

    partials = pairs.mapInPandas(
        cut_partial,
        "tx long, ty long, min_id string, max_id string, n_part int, ptile binary",
    )
    arranged = partials.repartition("tx", "ty").sortWithinPartitions(
        "tx", "ty", "min_id"
    )

    def _fold_tiles(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for (tx, ty), g in pdf.groupby(["tx", "ty"], sort=False):
            acc = np.full(tile_shape, bg, dtype=np_dtype)
            total = 0
            prev_max = None
            for row in g.itertuples(index=False):
                # disjointness guard: fold-by-min_id only reproduces
                # the sequential first-writer-wins order when partials
                # cover disjoint id intervals (id-contiguous input
                # partitions); a shuffled caller table breaks this
                if prev_max is not None and row.min_id <= prev_max:
                    raise RuntimeError(
                        "tile_cut_and_merge: overlapping partial id "
                        f"intervals on tile ({tx}, {ty}) — the image "
                        "table is not partitioned in contiguous "
                        "image_id ranges; pass ensure_contiguous=True"
                    )
                prev_max = row.max_id
                t = np.frombuffer(row.ptile, dtype=np_dtype).reshape(tile_shape)
                acc = merge_no_data(acc, t, no_data=bg)
                total += int(row.n_part)
            out.append((lvl, int(tx), int(ty), total, acc.tobytes()))
        return pd.DataFrame(out, columns=["level", "tx", "ty", "n_contrib", "tile"])

    def fold_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Phase 2: fold partials per tile; a tile's partials never
        split across partitions (hash repartition on the full key), and
        the trailing partial group is carried across batch bounds."""
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            ltx, lty = pdf["tx"].iloc[-1], pdf["ty"].iloc[-1]
            tail = (pdf["tx"] == ltx) & (pdf["ty"] == lty)
            pending = pdf[tail]
            body = pdf[~tail]
            if len(body):
                yield _fold_tiles(body)
        if pending is not None and len(pending):
            yield _fold_tiles(pending)

    return arranged.mapInPandas(
        fold_stream, "level int, tx long, ty long, n_contrib int, tile binary"
    )


def tile_range_query(
    tiles: DataFrame,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    level: int,
) -> DataFrame:
    """Bbox query over a (level, tx, ty, …) tile table — the WMS read
    path (GeoWaveRasterReader bbox → cell ranges). Pure native range
    predicate on the tile grid coords; with the table written sorted by
    (level, tx, ty) this prunes parquet row groups / Iceberg files."""
    n = 1 << level

    def g(v: int, off: int) -> int:
        return max(0, min(n - 1, (v + off) * n // WORLD_X_U))

    return tiles.where(
        (F.col("level") == level)
        & F.col("tx").between(g(x_lo, LON_OFF_U), g(x_hi, LON_OFF_U))
        & F.col("ty").between(g(y_lo, LAT_OFF_U), g(y_hi, LAT_OFF_U))
    )


def tile_histograms(tiles: DataFrame, tile_size: int = TILE_SIZE, bins: int = 16) -> DataFrame:
    """Per-tile pixel histogram — the RasterHistogramStatistic analog
    (extensions/adapters/raster/.../stats/RasterHistogramStatistic.java),
    computed over the decoded tiles in streaming Arrow batches (one
    np.bincount per tile, no per-pixel Python). Returns
    (level, tx, ty, hist array<long> of ``bins`` equal-width buckets)."""
    width = 256 // bins

    def hist_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                px = np.frombuffer(row.tile, dtype=np.uint8)
                h = np.bincount(px // width, minlength=bins)[:bins]
                rows.append(
                    (int(row.level), int(row.tx), int(row.ty), [int(v) for v in h])
                )
            yield pd.DataFrame(rows, columns=["level", "tx", "ty", "hist"])

    return tiles.select("level", "tx", "ty", "tile").mapInPandas(
        hist_stream, "level int, tx long, ty long, hist array<long>"
    )


def retile(
    tiles: DataFrame,
    from_level: int,
    to_level: int,
    tile_size: int = TILE_SIZE,
    interpolation: str = "nearest",
) -> DataFrame:
    """Re-tile a (level, tx, ty, tile) table to a different pyramid level
    (RasterTileResizeSparkRunner semantics: flatMap to new keys → group →
    mosaic). Coarsening: 4^(Δ) children collapse into one parent;
    refining: one parent explodes into children upsampled from its
    quadrant. ``interpolation`` selects the resampling kernel —
    'nearest' (decimation, the default) or 'bilinear' — the
    configurable Interpolation of RasterDataAdapter.java:444-550."""
    from geowave_spark.raster.codec import RESAMPLERS

    resample = RESAMPLERS[interpolation]
    if to_level == from_level:
        return tiles
    d = abs(to_level - from_level)
    if to_level < from_level:  # coarsen: child -> parent quadrant
        # streaming mapInPandas over (ptx,pty)-clustered partitions —
        # one Python call per ARROW BATCH, not per parent tile (the
        # same phase-2 pattern as tile_cut_and_merge's fold_stream;
        # the per-parent-group applyInPandas + iterrows it replaces was
        # the round-3 perf-weak finding). A parent's children never
        # split across partitions (hash repartition on the full key)
        # and the trailing parent group carries across batch bounds.
        k = 1 << d
        sub = tile_size // k
        keyed = tiles.select(
            F.call_function("div", F.col("tx"), F.lit(k)).alias("ptx"),
            F.call_function("div", F.col("ty"), F.lit(k)).alias("pty"),
            "tx",
            "ty",
            "tile",
        )
        arranged = keyed.repartition("ptx", "pty").sortWithinPartitions("ptx", "pty")

        def _merge_parents(pdf: pd.DataFrame) -> pd.DataFrame:
            out = []
            for (ptx, pty), g in pdf.groupby(["ptx", "pty"], sort=False):
                ptx, pty = int(ptx), int(pty)
                acc = np.full((tile_size, tile_size), NO_DATA, dtype=np.uint8)
                for row in g.itertuples(index=False):
                    img = np.frombuffer(row.tile, dtype=np.uint8).reshape(
                        tile_size, tile_size
                    )
                    small = resample(img, sub, sub)
                    ox = (int(row.tx) - ptx * k) * sub
                    # y axis: ty grows north; row 0 of the tile is north
                    oy = (pty * k + k - 1 - int(row.ty)) * sub
                    acc[oy : oy + sub, ox : ox + sub] = small
                out.append((to_level, ptx, pty, acc.tobytes()))
            return pd.DataFrame(out, columns=["level", "tx", "ty", "tile"])

        def merge_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pending: pd.DataFrame | None = None
            for pdf in batches:
                if pending is not None:
                    pdf = pd.concat([pending, pdf], ignore_index=True)
                    pending = None
                if not len(pdf):
                    continue
                lptx, lpty = pdf["ptx"].iloc[-1], pdf["pty"].iloc[-1]
                tail = (pdf["ptx"] == lptx) & (pdf["pty"] == lpty)
                pending = pdf[tail]
                body = pdf[~tail]
                if len(body):
                    yield _merge_parents(body)
            if pending is not None and len(pending):
                yield _merge_parents(pending)

        return arranged.mapInPandas(
            merge_stream, "level int, tx long, ty long, tile binary"
        )

    # refine: parent -> 4^d children
    k = 1 << d

    def split_parent(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                img = np.frombuffer(row.tile, dtype=np.uint8).reshape(
                    tile_size, tile_size
                )
                sub = tile_size // k
                for cy in range(k):
                    for cx in range(k):
                        # child (cx, cy) with cy in grid coords (north-up)
                        oy = (k - 1 - cy) * sub
                        patch = img[oy : oy + sub, cx * sub : cx * sub + sub]
                        up = resample(patch, tile_size, tile_size)
                        rows.append(
                            (
                                to_level,
                                int(row.tx) * k + cx,
                                int(row.ty) * k + cy,
                                up.tobytes(),
                            )
                        )
            yield pd.DataFrame(rows, columns=["level", "tx", "ty", "tile"])

    return tiles.mapInPandas(split_parent, "level int, tx long, ty long, tile binary")


def build_pyramid(
    tiles: DataFrame,
    from_level: int,
    to_level: int = 0,
    tile_size: int = TILE_SIZE,
    interpolation: str = "nearest",
) -> DataFrame:
    """Full pyramid from a base tile level down to ``to_level`` — the
    buildPyramid option of RasterDataAdapter.java:174-226 (ingest
    writes every coarser level so WMS reads never resample on the fly).
    Each level derives from the previous by one retile coarsen
    (4 children → 1 parent). Each derived level is MATERIALIZED
    (eager localCheckpoint) before it feeds the next level and the
    union — without that, the union's branches re-derive level L from
    the base through L chained retiles (O(levels²) on the base mosaic,
    the round-3 ADVICE finding); with it the total work is the
    geometric series ≈ 4/3 of the base level the reference's ingest
    pays (production path: commit each level to the snapshot table as
    it's built — sources/icetable.py — which checkpoints for free).
    Output includes the base level itself (scanned from the caller's
    frame, not re-derived)."""
    if to_level > from_level:
        raise ValueError("to_level must be ≤ from_level")
    out = tiles.select("level", "tx", "ty", "tile")
    cur = out
    for lvl in range(from_level - 1, to_level - 1, -1):
        cur = (
            retile(cur, lvl + 1, lvl, tile_size, interpolation)
            .select("level", "tx", "ty", "tile")
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(cur)
    return out


def render_mosaic(
    tiles: DataFrame,
    x_lo: int,
    y_lo: int,
    x_hi: int,
    y_hi: int,
    level: int,
    out_w: int,
    out_h: int,
    tile_size: int = TILE_SIZE,
    background: int = NO_DATA,
) -> DataFrame:
    """WMS GetMap read path (GeoWaveRasterReader: bbox -> tile scan ->
    merged mosaic, with decimation to the requested output size): prune
    the tile table to the bbox (tile_range_query — sargable grid-range
    predicate), resample each tile's overlap onto the output grid in
    distributed Arrow batches, then assemble the single bounded output
    canvas (out_w x out_h, a render target — never data-sized) in one
    final task. Returns one row: (x_lo, y_lo, x_hi, y_hi, w, h, image).

    Pixel mapping mirrors cut_tile exactly (integer pixel-center
    arithmetic, row 0 = north); tiles partition space at a level, so
    contributions are disjoint rectangles and assembly is pure
    placement."""
    span_x, span_y = x_hi - x_lo, y_hi - y_lo
    sel = tile_range_query(tiles, x_lo, y_lo, x_hi, y_hi, level)

    def contribute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # output pixel centers in µdeg (row 0 = north) — tiny arrays,
        # recomputed per executor from the closure constants
        px = x_lo + ((np.arange(out_w) * 2 + 1) * span_x) // (2 * out_w)
        py = y_hi - ((np.arange(out_h) * 2 + 1) * span_y) // (2 * out_h)
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                bx_lo, by_lo, bx_hi, by_hi = _tile_bounds(level, int(r.tx), int(r.ty))
                cs = np.where((px >= bx_lo) & (px < bx_hi))[0]
                rs = np.where((py >= by_lo) & (py < by_hi))[0]
                if not len(cs) or not len(rs):
                    continue
                t = np.frombuffer(r.tile, dtype=np.uint8).reshape(
                    tile_size, tile_size
                )
                sx = ((px[cs] - bx_lo) * tile_size) // max(bx_hi - bx_lo, 1)
                sy = ((by_hi - py[rs]) * tile_size) // max(by_hi - by_lo, 1)
                sub = t[np.clip(sy, 0, tile_size - 1)][
                    :, np.clip(sx, 0, tile_size - 1)
                ]
                rows.append((int(rs[0]), int(cs[0]), sub.shape[0], sub.shape[1], sub.tobytes()))
            yield pd.DataFrame(rows, columns=["r0", "c0", "h", "w", "sub"])

    contribs = sel.select("tx", "ty", "tile").mapInPandas(
        contribute, "r0 int, c0 int, h int, w int, sub binary"
    )
    # sentinel empty contribution: guarantees the single output row (an
    # all-background canvas) even when no stored tile overlaps the bbox
    seed = sel.sparkSession.createDataFrame(
        [(0, 0, 0, 0, b"")], "r0 int, c0 int, h int, w int, sub binary"
    )
    contribs = contribs.unionByName(seed)

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        canvas = np.full((out_h, out_w), background, dtype=np.uint8)
        for r in pdf.itertuples(index=False):
            if r.h == 0 or r.w == 0:
                continue  # sentinel
            sub = np.frombuffer(r.sub, dtype=np.uint8).reshape(r.h, r.w)
            canvas[r.r0 : r.r0 + r.h, r.c0 : r.c0 + r.w] = sub
        return pd.DataFrame(
            [(x_lo, y_lo, x_hi, y_hi, out_w, out_h, canvas.tobytes())],
            columns=["x_lo", "y_lo", "x_hi", "y_hi", "w", "h", "image"],
        )

    return (
        contribs.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(
            assemble,
            "x_lo long, y_lo long, x_hi long, y_hi long, w int, h int, image binary",
        )
        .drop("_g")
    )


def ingest_pyramid(
    spark,
    tiles: DataFrame,
    from_level: int,
    store_root: str,
    to_level: int = 0,
    tile_size: int = TILE_SIZE,
    interpolation: str = "nearest",
    fingerprint: str = "base-v1",
):
    """buildPyramid on the WRITE path with per-level resumable lineage —
    the production form of build_pyramid: each pyramid level is ONE
    atomic snapshot commit into an IceStageStore (part_key = level), so
    a build killed mid-pyramid resumes at the first uncommitted level
    and derives it from its PARENT LEVEL READ BACK FROM THE STORE — no
    recomputation of completed levels and no reliance on executor-local
    checkpoint blocks surviving the crash. This is
    RasterDataAdapter.buildPyramid (:174-226 — ingest writes every
    coarser level) composed with GeoWaveOutputFormat's per-task commit
    (core/mapreduce/.../output/) expressed as snapshot commits.

    Returns the full pyramid DataFrame (level, tx, ty, tile, part_key)
    for levels [to_level, from_level]."""
    from geowave_spark.plans.checkpoint import IceStageStore

    store = IceStageStore(store_root)
    levels = list(range(from_level, to_level - 1, -1))

    def make(level: int) -> DataFrame:
        if level == from_level:
            return tiles.select("level", "tx", "ty", "tile")
        # the parent level's snapshot is committed before this key runs
        # (run_stage walks keys in order; on resume it's already there).
        # Fingerprint-scoped read: a raw table read on a REUSED store
        # root would also return the previous generation's parent rows
        # (run_stage appends; old snapshots stay time-travelable) and
        # overlay stale pixels into this generation's coarser levels.
        parent = store.read_parts(spark, "pyramid", fingerprint, [level + 1]).select(
            "level", "tx", "ty", "tile"
        )
        return retile(parent, level + 1, level, tile_size, interpolation).select(
            "level", "tx", "ty", "tile"
        )

    return store.run_stage(
        spark, "pyramid", levels, make, fingerprint, stats_cols=["tx", "ty"]
    )
