"""Tiling semantics vs plain-Python oracles (GeoWaveBasicRasterIT-style
analytically-known expectations, GeoWaveBasicRasterIT.java:118-404)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowave_spark import LAT_OFF_U, LON_OFF_U, WORLD_X_U
from geowave_spark.operators.tiling import (
    NO_DATA,
    box_tile_cover,
    cut_tile,
    image_extent_cols,
    pick_level,
    retile,
    tile_cut_and_merge,
)
from geowave_spark.raster.codec import decode_image
from geowave_spark.sources.images import _gen_batch, dhash64, images_table
from geowave_spark.sources.testgeo import xy_numpy

HALF_SPAN = 600_000  # 0.6 deg half-span per image
N_IMG = 60


@pytest.fixture(scope="module")
def images(spark):
    return images_table(spark, N_IMG, w=32, h=32, partitions=4).cache()


def _assigned_tiles(images, level):
    """(image_id, level, tx, ty): the tiles each image footprint
    (image_extent_cols) covers, by the vector-side cover box_tile_cover."""
    ext = images.select("image_id", *image_extent_cols(HALF_SPAN))
    return box_tile_cover(ext, level, key="image_id").withColumn("level", F.lit(level))


def test_images_fixture_deterministic(spark, images):
    got = images.select("image_id", "phash", "x_u", "y_u", "fmt", "caption").toPandas()
    exp = _gen_batch(np.arange(N_IMG), 32, 32)  # the generator, driver-side
    got = got.sort_values("image_id").reset_index(drop=True)
    exp2 = exp[["image_id", "phash", "x_u", "y_u", "fmt", "caption"]].sort_values(
        "image_id"
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp2)


def test_image_bytes_roundtrip_fidelity(images):
    """Per-row fidelity: decoded pixels bit-exact (lossless formats),
    caption equality, phash equality — the FIXTURES.md §4 gate."""
    from geowave_spark.sources.images import caption_for, render_pixels

    rows = images.collect()
    assert len(rows) == N_IMG
    for r in rows:
        i = int(r["image_id"][3:])
        img = decode_image(r["bytes"], r["fmt"])
        assert np.array_equal(img, render_pixels(i, 32, 32))
        assert r["caption"] == caption_for(i)
        assert r["phash"] == dhash64(img)


def test_pick_level_ratio_rule():
    # extent 1.2 deg, 32 px native -> native res 37500 µdeg/px
    lvl = pick_level(2 * HALF_SPAN, 32)
    # level res must be >= native res, and one level finer must be < native
    assert (WORLD_X_U / (1 << lvl)) / 256 >= 2 * HALF_SPAN / 32
    assert (WORLD_X_U / (1 << (lvl + 1))) / 256 < 2 * HALF_SPAN / 32


def test_tile_assign_matches_python_oracle(spark, images):
    """Image footprints (image_extent_cols) keyed to tiles by the
    vector-side cover (box_tile_cover) at the pyramid level pick_level
    chooses."""
    level = pick_level(2 * HALF_SPAN, 32)
    got = _assigned_tiles(images, level).toPandas()
    n = 1 << level
    ids = np.arange(N_IMG)
    xs, ys = xy_numpy(ids)
    exp_rows = set()
    for i in ids:
        tx0 = min(max((int(xs[i]) - HALF_SPAN + LON_OFF_U) * n // WORLD_X_U, 0), n - 1)
        tx1 = min(max((int(xs[i]) + HALF_SPAN + LON_OFF_U) * n // WORLD_X_U, 0), n - 1)
        ty0 = min(max((int(ys[i]) - HALF_SPAN + LAT_OFF_U) * n // WORLD_X_U, 0), n - 1)
        ty1 = min(max((int(ys[i]) + HALF_SPAN + LAT_OFF_U) * n // WORLD_X_U, 0), n - 1)
        for tx in range(tx0, tx1 + 1):
            for ty in range(ty0, ty1 + 1):
                exp_rows.add((f"img{i:012d}", level, tx, ty))
    got_rows = set(map(tuple, got[["image_id", "level", "tx", "ty"]].itertuples(index=False)))
    assert got_rows == exp_rows


def test_cut_tile_geometry():
    """A tile fully inside the image footprint gets no background; one
    fully outside is all background."""
    img = np.full((32, 32), 200, dtype=np.uint8)
    level = 8
    n = 1 << level
    # image covering exactly tile (tx=130, ty=140) plus margin
    tx, ty = 130, 140
    x_lo = tx * WORLD_X_U // n - LON_OFF_U - 100_000
    x_hi = (tx + 1) * WORLD_X_U // n - LON_OFF_U + 100_000
    y_lo = ty * WORLD_X_U // n - LAT_OFF_U - 100_000
    y_hi = (ty + 1) * WORLD_X_U // n - LAT_OFF_U + 100_000
    t = cut_tile(img, (x_lo, y_lo, x_hi, y_hi), level, tx, ty, tile_size=64)
    assert (t == 200).all()
    t_far = cut_tile(img, (x_lo, y_lo, x_hi, y_hi), level, tx + 5, ty, tile_size=64)
    assert (t_far == NO_DATA).all()


def test_merge_no_data_first_wins():
    """Two images over the same tile: pixels covered by the first (by id)
    keep its values; holes fill from the second."""
    level = 6
    n = 1 << level
    tx, ty = 20, 30
    tx_lo = tx * WORLD_X_U // n - LON_OFF_U
    tx_hi = (tx + 1) * WORLD_X_U // n - LON_OFF_U
    ty_lo = ty * WORLD_X_U // n - LAT_OFF_U
    ty_hi = (ty + 1) * WORLD_X_U // n - LAT_OFF_U
    span = tx_hi - tx_lo
    img_a = np.full((16, 16), 50, dtype=np.uint8)
    img_b = np.full((16, 16), 99, dtype=np.uint8)
    # a covers west half, b covers the full tile
    box_a = (tx_lo, ty_lo, tx_lo + span // 2, ty_hi)
    box_b = (tx_lo, ty_lo, tx_hi, ty_hi)
    ta = cut_tile(img_a, box_a, level, tx, ty, tile_size=32)
    tb = cut_tile(img_b, box_b, level, tx, ty, tile_size=32)
    merged = np.where(ta == NO_DATA, tb, ta)
    west = merged[:, : 32 // 2 - 1]
    east = merged[:, 32 // 2 + 1 :]
    assert (west == 50).all()
    assert (east == 99).all()


def test_tile_cut_and_merge_end_to_end(spark, images):
    tiles = tile_cut_and_merge(images, HALF_SPAN, tile_size=32).cache()
    pdf = tiles.toPandas()
    assert len(pdf) > 0
    # every tile decodes to the right shape and has some real pixels
    any_multi = (pdf["n_contrib"] > 1).any()
    for _, r in pdf.iterrows():
        t = np.frombuffer(r["tile"], dtype=np.uint8).reshape(32, 32)
        assert t.shape == (32, 32)
    # tile ids must equal the assignment output exactly (row-for-row rule)
    level = pick_level(2 * HALF_SPAN, 32, 32)
    assigned = _assigned_tiles(images, level).select("level", "tx", "ty").distinct()
    got_ids = set(map(tuple, pdf[["level", "tx", "ty"]].itertuples(index=False)))
    exp_ids = set(map(tuple, assigned.toPandas().itertuples(index=False)))
    assert got_ids == exp_ids


def test_retile_roundtrip_shape(spark, images):
    tiles = tile_cut_and_merge(images, HALF_SPAN, tile_size=32)
    lvl = tiles.select(F.first("level")).first()[0]
    coarser = retile(tiles, lvl, lvl - 1, tile_size=32)
    pdf = coarser.toPandas()
    assert (pdf["level"] == lvl - 1).all()
    # parent keys are the shifted child keys
    child = tiles.select("tx", "ty").toPandas()
    exp_parents = set(zip(child["tx"] // 2, child["ty"] // 2))
    assert set(zip(pdf["tx"], pdf["ty"])) == exp_parents
    finer = retile(tiles, lvl, lvl + 1, tile_size=32)
    assert finer.count() == tiles.count() * 4


def test_tile_cut_and_merge_shuffled_input_invariance(spark, images):
    """A hash-shuffled image table must either be detected (overlapping
    partial id intervals -> RuntimeError) or, with
    ensure_contiguous=True, produce bit-identical tiles to the
    id-ordered run — the partition-invariance guard."""
    base = tile_cut_and_merge(images, HALF_SPAN, tile_size=32).toPandas()
    shuffled = images.repartition(7, "phash")  # destroys id contiguity
    fixed = tile_cut_and_merge(
        shuffled, HALF_SPAN, tile_size=32, ensure_contiguous=True
    ).toPandas()
    key = ["level", "tx", "ty"]
    b = base.sort_values(key).reset_index(drop=True)
    f = fixed.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(b[key + ["n_contrib"]], f[key + ["n_contrib"]])
    assert all(x == y for x, y in zip(b["tile"], f["tile"]))

    # without the repair flag the fold must not silently diverge: it
    # either still produces the exact result (shuffle happened to keep
    # intervals disjoint) or raises the guard error
    try:
        raw = tile_cut_and_merge(shuffled, HALF_SPAN, tile_size=32).toPandas()
    except Exception as e:  # py4j wraps the RuntimeError
        assert "overlapping partial id intervals" in str(e) or "ensure_contiguous" in str(e)
    else:
        r = raw.sort_values(key).reset_index(drop=True)
        assert all(x == y for x, y in zip(b["tile"], r["tile"]))


def test_multiband_typed_cut_and_merge_golden():
    """Multi-band int16 tiles with per-band background values and
    per-band no-data first-wins merge — analytically-known expected
    pixels (the GeoWaveBasicRasterIT.testNoDataMergeStrategy pattern
    generalized beyond single-band uint8)."""
    from geowave_spark.operators.tiling import cut_tile, merge_no_data
    from geowave_spark.raster.codec import decode_raw_typed, encode_raw_typed

    level, tx, ty = 6, 20, 30
    n = 1 << level
    tx_lo = tx * WORLD_X_U // n - LON_OFF_U
    tx_hi = (tx + 1) * WORLD_X_U // n - LON_OFF_U
    ty_lo = ty * WORLD_X_U // n - LAT_OFF_U
    ty_hi = (ty + 1) * WORLD_X_U // n - LAT_OFF_U
    span = tx_hi - tx_lo

    bg = (-7, 1000)  # per-band background / no-data values
    img_a = np.zeros((16, 16, 2), dtype=np.int16)
    img_a[:, :, 0] = 50
    img_a[:, :, 1] = -300
    img_b = np.zeros((16, 16, 2), dtype=np.int16)
    img_b[:, :, 0] = 99
    img_b[:, :, 1] = 77

    # codec round-trip is bit-exact for typed multi-band payloads
    assert np.array_equal(decode_raw_typed(encode_raw_typed(img_a)), img_a)

    box_a = (tx_lo, ty_lo, tx_lo + span // 2, ty_hi)  # west half
    box_b = (tx_lo, ty_lo, tx_hi, ty_hi)  # full tile
    ta = cut_tile(img_a, box_a, level, tx, ty, tile_size=32, background=bg)
    tb = cut_tile(img_b, box_b, level, tx, ty, tile_size=32, background=bg)
    assert ta.shape == (32, 32, 2) and ta.dtype == np.int16

    merged = merge_no_data(ta, tb, no_data=bg)
    west = merged[:, : 16 - 1]
    east = merged[:, 16 + 1 :]
    assert (west[:, :, 0] == 50).all() and (west[:, :, 1] == -300).all()
    assert (east[:, :, 0] == 99).all() and (east[:, :, 1] == 77).all()

    # a band-0 sample that HITS the no-data value in the first writer
    # is filled from the second, independently per band
    img_c = img_a.copy()
    img_c[:, :, 0] = -7  # band 0 writes no-data; band 1 stays -300
    tc = cut_tile(img_c, box_a, level, tx, ty, tile_size=32, background=bg)
    merged2 = merge_no_data(tc, tb, no_data=bg)
    assert (merged2[:, : 16 - 1, 0] == 99).all()  # band 0 filled from b
    assert (merged2[:, : 16 - 1, 1] == -300).all()  # band 1 kept from c


def test_multiband_distributed_cut_and_merge_exact(spark):
    """Distributed two-phase multi-band merge is bit-identical to the
    sequential driver-side reference (cut + per-band no-data first-wins
    in image_id order) — the multiband analog of the single-band
    two-phase exactness guarantee."""
    from geowave_spark.operators.tiling import merge_no_data
    from geowave_spark.raster.codec import decode_raw_typed
    from geowave_spark.sources.images import _gen_batch_typed, images_table_typed

    n, ts, bg = 40, 32, (-7777, 7777)
    imgs = images_table_typed(spark, n, w=ts, h=ts, bands=2, dtype="int16", partitions=4)
    tiles = tile_cut_and_merge(
        imgs, HALF_SPAN, tile_size=ts, bands=2, dtype="int16", background=bg
    ).toPandas()

    # sequential reference
    level = pick_level(2 * HALF_SPAN, ts, ts)
    grid = 1 << level
    pdf = _gen_batch_typed(np.arange(n), ts, ts, 2, "int16")

    def g(v, off):
        return min(max((v + off) * grid // WORLD_X_U, 0), grid - 1)

    ref: dict = {}
    counts: dict = {}
    for row in pdf.sort_values("image_id").itertuples(index=False):
        img = decode_raw_typed(row.bytes)
        box = (
            row.x_u - HALF_SPAN, row.y_u - HALF_SPAN,
            row.x_u + HALF_SPAN, row.y_u + HALF_SPAN,
        )
        for tx in range(g(box[0], LON_OFF_U), g(box[2], LON_OFF_U) + 1):
            for ty in range(g(box[1], LAT_OFF_U), g(box[3], LAT_OFF_U) + 1):
                t = cut_tile(img, box, level, tx, ty, ts, background=np.asarray(bg, dtype=np.int16))
                key = (tx, ty)
                if key not in ref:
                    ref[key] = t
                    counts[key] = 1
                else:
                    ref[key] = merge_no_data(ref[key], t, no_data=bg)
                    counts[key] += 1

    assert set(zip(tiles["tx"], tiles["ty"])) == set(ref)
    for row in tiles.itertuples(index=False):
        got = np.frombuffer(row.tile, dtype=np.int16).reshape(ts, ts, 2)
        assert counts[(row.tx, row.ty)] == row.n_contrib
        assert np.array_equal(got, ref[(row.tx, row.ty)]), (row.tx, row.ty)


def test_bilinear_resample_reproduces_linear_ramps_exactly():
    """Bilinear interpolation is exact on linear functions: a ramp
    image resampled to any size must equal the analytically resampled
    ramp (half-pixel-center mapping), and PSNR vs float truth stays
    effectively infinite."""
    from geowave_spark.raster.codec import resample_bilinear
    from oracles import psnr

    h = w = 32
    xs = np.arange(w, dtype=np.float64)
    ys = np.arange(h, dtype=np.float64)
    ramp = (ys[:, None] * 3.0 + xs[None, :] * 5.0).astype(np.float64)

    for oh, ow in [(16, 16), (8, 24), (64, 64)]:
        got = resample_bilinear(ramp, oh, ow)
        sy = np.clip((np.arange(oh) + 0.5) * (h / oh) - 0.5, 0, h - 1)
        sx = np.clip((np.arange(ow) + 0.5) * (w / ow) - 0.5, 0, w - 1)
        want = sy[:, None] * 3.0 + sx[None, :] * 5.0
        assert np.allclose(got, want, atol=1e-9), (oh, ow)

    # integer dtype path: rounded ramp stays within 1 LSB -> PSNR >= 40
    ramp8 = np.clip(ramp, 0, 255).astype(np.uint8)
    got8 = resample_bilinear(ramp8, 16, 16)
    want = np.clip(
        (np.clip((np.arange(16) + 0.5) * 2 - 0.5, 0, 31))[:, None] * 3.0
        + (np.clip((np.arange(16) + 0.5) * 2 - 0.5, 0, 31))[None, :] * 5.0,
        0,
        255,
    )
    assert psnr(got8.astype(np.float64), want) >= 40.0
    assert got8.dtype == np.uint8


def test_retile_bilinear_distributed_matches_driver_reference(spark, images):
    """retile(interpolation='bilinear') through the distributed
    applyInPandas path equals a driver-side sequential mosaic using the
    same kernel — same tile keys as nearest, different (smoother)
    pixels."""
    from geowave_spark.raster.codec import resample_bilinear

    ts = 32
    level = pick_level(2 * HALF_SPAN, ts, ts)
    tiles = tile_cut_and_merge(images, HALF_SPAN, tile_size=ts, level=level)
    base = tiles.select("level", "tx", "ty", "tile").toPandas()

    got = (
        retile(
            spark.createDataFrame(base),
            level,
            level - 1,
            ts,
            interpolation="bilinear",
        )
        .toPandas()
        .sort_values(["tx", "ty"])
        .reset_index(drop=True)
    )

    # driver reference
    ref: dict = {}
    for row in base.sort_values(["tx", "ty"]).itertuples(index=False):
        ptx, pty = row.tx // 2, row.ty // 2
        acc = ref.setdefault((ptx, pty), np.zeros((ts, ts), dtype=np.uint8))
        img = np.frombuffer(row.tile, dtype=np.uint8).reshape(ts, ts)
        small = resample_bilinear(img, ts // 2, ts // 2)
        ox = (row.tx - ptx * 2) * (ts // 2)
        oy = (pty * 2 + 1 - row.ty) * (ts // 2)
        acc[oy : oy + ts // 2, ox : ox + ts // 2] = small

    assert set(zip(got["tx"], got["ty"])) == set(ref)
    for row in got.itertuples(index=False):
        want = ref[(row.tx, row.ty)]
        assert np.array_equal(
            np.frombuffer(row.tile, dtype=np.uint8).reshape(ts, ts), want
        ), (row.tx, row.ty)


def test_bicubic_resample_golden():
    """Keys cubic convolution (a=−0.5): exact on linear AND quadratic
    ramps away from the clamped 2-pixel border, exact everywhere on
    flat fields (weights sum to 1), and ≥40 dB vs analytic truth
    overall on the integer path. Downsample of a smooth field beats
    nearest-neighbor fidelity."""
    from geowave_spark.raster.codec import resample_bicubic, resample_nearest
    from oracles import psnr

    h = w = 32
    xs = np.arange(w, dtype=np.float64)
    ys = np.arange(h, dtype=np.float64)

    # flat field: exact everywhere (partition of unity incl. clamped taps)
    flat = np.full((h, w), 7.25, dtype=np.float64)
    assert np.allclose(resample_bicubic(flat, 13, 29), 7.25, atol=1e-12)

    # linear + quadratic ramps: exact on the interior
    for make, name in [
        (lambda Y, X: 3.0 * Y + 5.0 * X, "linear"),
        (lambda Y, X: 0.05 * Y * Y + 0.02 * X * X + 0.01 * X * Y, "quad"),
    ]:
        img = make(ys[:, None], xs[None, :])
        for oh, ow in [(16, 16), (64, 64), (24, 40)]:
            got = resample_bicubic(img, oh, ow)
            sy = (np.arange(oh) + 0.5) * (h / oh) - 0.5
            sx = (np.arange(ow) + 0.5) * (w / ow) - 0.5
            want = make(sy[:, None], sx[None, :])
            # interior: source coords ≥1 and ≤dim−2 (no clamped taps)
            iy = (sy >= 1.0) & (sy <= h - 2.0)
            ix = (sx >= 1.0) & (sx <= w - 2.0)
            assert np.allclose(
                got[np.ix_(iy, ix)], want[np.ix_(iy, ix)], atol=1e-8
            ), (name, oh, ow)

    # integer path on a smooth curved field: ≥40 dB vs truth, and
    # beats nearest on the same task
    curve = (
        96.0
        + 60.0 * np.sin(ys[:, None] / 9.0)
        + 60.0 * np.cos(xs[None, :] / 7.0)
    )
    img8 = np.clip(curve, 0, 255).astype(np.uint8)
    sy = (np.arange(16) + 0.5) * 2 - 0.5
    sx = (np.arange(16) + 0.5) * 2 - 0.5
    truth = np.clip(
        96.0
        + 60.0 * np.sin(np.clip(sy, 0, 31)[:, None] / 9.0)
        + 60.0 * np.cos(np.clip(sx, 0, 31)[None, :] / 7.0),
        0,
        255,
    )
    got8 = resample_bicubic(img8, 16, 16)
    assert got8.dtype == np.uint8
    assert psnr(got8.astype(np.float64), truth) >= 40.0
    assert psnr(got8.astype(np.float64), truth) > psnr(
        resample_nearest(img8, 16, 16).astype(np.float64), truth
    )

    # multiband: per-band equals single-band
    mb = np.stack([img8, img8[::-1]], axis=-1)
    got_mb = resample_bicubic(mb, 16, 16)
    assert got_mb.shape == (16, 16, 2)
    assert np.array_equal(got_mb[..., 0], resample_bicubic(img8, 16, 16))


def test_retile_bicubic_same_keys_as_nearest(spark, images):
    """The kernel choice changes pixels, never tile keys: bicubic
    retile produces the same (level, tx, ty) set as nearest."""
    from geowave_spark.operators.tiling import pick_level, retile, tile_cut_and_merge

    ts = 32
    level = pick_level(2 * HALF_SPAN, ts, ts)
    tiles = tile_cut_and_merge(images, HALF_SPAN, tile_size=ts, level=level).select(
        "level", "tx", "ty", "tile"
    )
    near = retile(tiles, level, level - 1, ts, interpolation="nearest")
    cub = retile(tiles, level, level - 1, ts, interpolation="bicubic")
    k_n = set(map(tuple, near.select("level", "tx", "ty").collect()))
    k_c = set(map(tuple, cub.select("level", "tx", "ty").collect()))
    assert k_n == k_c and len(k_c) > 0
