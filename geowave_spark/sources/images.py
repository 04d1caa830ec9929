"""Deterministic synthetic image+caption table (BASELINE.json input_hint:
image_id string, bytes binary, w int, h int, fmt string, caption string,
phash int64) — generated distributed via mapInPandas so the same code
scales from the 2k-row test fixture to bench sizes (FIXTURES.md §1).

Formats: 'png' (real codec, bit-exact round-trip) and 'raw' (engine's
documented uncompressed container) — 'jpeg' stays a stub since no
imaging library ships in this container. Geo-location is the same
integer micro-degree derivation as every other fixture
(geowave_spark.sources.testgeo.xy_numpy), so images drop into the
spatial operators unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from geowave_spark.raster.codec import encode_raw
from geowave_spark.raster.png import png_encode
from geowave_spark.sources.testgeo import xy_numpy

WORDS_A = ["aerial", "satellite", "drone", "orbital", "survey", "mapping"]
WORDS_B = ["view", "capture", "tile", "scene", "frame", "mosaic", "scan"]
WORDS_C = ["coast", "forest", "city", "desert", "river", "glacier", "farmland", "reef"]

SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, x_u long, y_u long"
)


def render_pixels(i: int, w: int, h: int) -> np.ndarray:
    """Deterministic gradient + keyed noise pattern (uint8 grayscale).

    Every i ≡ 5 (mod 8) renders a slightly-perturbed copy of image
    i-3 (a brightness nudge in one corner) — planted near-duplicates
    whose difference hashes land within a few Hamming bits, the
    fixture for perceptual-hash dedup. Fully deterministic, so the
    DuckDB oracle re-derives the same phash values from this
    generator."""
    if i % 8 == 5 and i >= 3:
        img = render_pixels(i - 3, w, h).copy()
        q = max(h // 8, 1)
        xs = (np.arange(9) * w) // 9  # the dhash sample columns
        for t in range(1 + i % 5):
            c = int(xs[(i // 8 + t) % 9])
            img[:q, c] = (img[:q, c].astype(np.int32) + 101) % 256
        return img.astype(np.uint8)
    yy, xx = np.mgrid[0:h, 0:w]
    grad = (xx * 255 // max(w - 1, 1) + yy * 255 // max(h - 1, 1)) // 2
    rng = np.random.default_rng(1_000_003 * i + 7)
    noise = rng.integers(0, 64, size=(h, w))
    return ((grad + noise) % 256).astype(np.uint8)


def dhash64(img: np.ndarray) -> int:
    """64-bit difference hash (public pHash-family construction): 8x9
    downsample, sign of horizontal gradient per cell."""
    h, w = img.shape[:2]
    g = img if img.ndim == 2 else img.mean(axis=2)
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    small = g[ys][:, xs].astype(np.int32)
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    val = 0
    for b in bits[:63]:  # 63 bits keeps the value in signed-int64 range
        val = (val << 1) | int(b)
    return val


def caption_for(i: int) -> str:
    return (
        f"{WORDS_A[i % len(WORDS_A)]} {WORDS_B[(i // 7) % len(WORDS_B)]} of "
        f"{WORDS_C[(i // 3) % len(WORDS_C)]} {i}"
    )


def _gen_batch(ids: np.ndarray, w: int, h: int) -> pd.DataFrame:
    xs, ys = xy_numpy(ids)
    rows = []
    for j, i in enumerate(ids):
        img = render_pixels(int(i), w, h)
        fmt = "raw" if i % 3 == 0 else "png"
        data = encode_raw(img) if fmt == "raw" else png_encode(img)
        rows.append(
            (
                f"img{int(i):012d}",
                data,
                w,
                h,
                fmt,
                caption_for(int(i)),
                dhash64(img),
                int(xs[j]),
                int(ys[j]),
            )
        )
    return pd.DataFrame(
        rows,
        columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "x_u", "y_u"],
    )


def images_table(
    spark: SparkSession, n: int, w: int = 64, h: int = 64, partitions: int = 8
) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gen_batch(pdf["id"].to_numpy(), w, h)

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, SCHEMA)


# --------------------------------------------------- typed multi-band set
# Fixture for the DataBuffer-type generality of the reference's raster
# adapter (RasterDataAdapter.java:444-550): int16 samples, 2 bands,
# engine-native RAW2 typed container. Values stay in [-100, 400), so
# any background/no-data choice outside that range never collides with
# real samples.

TYPED_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "bands int, dtype string, x_u long, y_u long"
)


def render_pixels_typed(
    i: int, w: int, h: int, bands: int = 2, dtype: str = "int16"
) -> np.ndarray:
    """Deterministic typed multi-band pattern: per-band shifted gradient
    plus a per-image offset (exactly reproducible driver-side)."""
    yy, xx = np.mgrid[0:h, 0:w]
    grad = (xx * 255 // max(w - 1, 1) + yy * 255 // max(h - 1, 1)) // 2
    out = np.empty((h, w, bands), dtype=np.dtype(dtype))
    for b in range(bands):
        out[:, :, b] = (grad * (b + 1) + i * 31 + b * 17) % 401 - 100
    return out


def _gen_batch_typed(
    ids: np.ndarray, w: int, h: int, bands: int, dtype: str
) -> pd.DataFrame:
    from geowave_spark.raster.codec import encode_raw_typed

    xs, ys = xy_numpy(ids)
    rows = []
    for j, i in enumerate(ids):
        img = render_pixels_typed(int(i), w, h, bands, dtype)
        rows.append(
            (
                f"img{int(i):012d}",
                encode_raw_typed(img),
                w,
                h,
                "raw2",
                bands,
                dtype,
                int(xs[j]),
                int(ys[j]),
            )
        )
    return pd.DataFrame(
        rows,
        columns=[
            "image_id", "bytes", "w", "h", "fmt", "bands", "dtype", "x_u", "y_u",
        ],
    )


def images_table_typed(
    spark: SparkSession,
    n: int,
    w: int = 32,
    h: int = 32,
    bands: int = 2,
    dtype: str = "int16",
    partitions: int = 8,
) -> DataFrame:
    """Distributed deterministic typed multi-band image table."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gen_batch_typed(pdf["id"].to_numpy(), w, h, bands, dtype)

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, TYPED_SCHEMA)


# --------------------------------------------- variable-size image set
# Fixture for aspect-ratio bucketing (operators/batching.py): per-id
# width/height from pure integer arithmetic, so the DuckDB oracle
# re-derives every dimension without running the generator. Sizes span
# tall (16x112) through wide (144x16) panels.


def var_dims(i: int) -> tuple[int, int]:
    return 16 * (1 + (i * 7) % 9), 16 * (1 + (i * 13) % 7)


def _gen_batch_var(ids: np.ndarray) -> pd.DataFrame:
    xs, ys = xy_numpy(ids)
    rows = []
    for j, i in enumerate(ids):
        w, h = var_dims(int(i))
        img = render_pixels(int(i), w, h)
        fmt = "raw" if i % 3 == 0 else "png"
        data = encode_raw(img) if fmt == "raw" else png_encode(img)
        rows.append(
            (
                f"img{int(i):012d}",
                data,
                w,
                h,
                fmt,
                caption_for(int(i)),
                dhash64(img),
                int(xs[j]),
                int(ys[j]),
            )
        )
    return pd.DataFrame(
        rows,
        columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "x_u", "y_u"],
    )


def images_table_var(spark: SparkSession, n: int, partitions: int = 8) -> DataFrame:
    """Variable-size twin of images_table (same schema, arithmetic
    per-id dims) — distributed mapInPandas generation."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _gen_batch_var(pdf["id"].to_numpy())

    return spark.range(0, n, numPartitions=partitions).mapInPandas(gen, SCHEMA)
