"""Multimodal (audio/video) columns: decode, stats, frame sampling,
feature extraction — Arrow-batched plumbing over opaque binary columns.

The engine treats non-raster media exactly like raster tiles
(extensions/adapters/raster/.../RasterTile.java: payload bytes + typed
metadata): an opaque ``bytes`` column, a ``fmt`` tag, and typed metadata
columns. All pixel/sample work happens in ``mapInPandas`` over numpy —
one Python↔JVM Arrow boundary, no per-row Python — so the same plan
shape scales to 100 TB of media the way the image tiling pipeline does
(batch-at-a-time decode, narrow ops, grouping keys computed natively).

Deterministic formats decode for real (numpy): ``pcm16`` (LE int16
mono), ``rawv16`` (16x16 uint8 frame stacks). Compressed codecs
(mp3/flac/h264/...) are STUBBED with NotImplementedError — the
container ships no audio/video libraries; the Spark-side plumbing
(schemas, batch iteration, 1→N frame explode, partitioning) is real
and identical to what a libsndfile/pyav-backed decoder would slot into.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_STUB_AUDIO_FMTS = {"mp3", "flac", "ogg", "aac", "wav"}
_STUB_VIDEO_FMTS = {"h264", "h265", "vp9", "av1", "mp4"}


def decode_audio(data: bytes, fmt: str) -> np.ndarray:
    """bytes -> int16 sample vector. Real for pcm16; stub otherwise."""
    if fmt == "pcm16":
        return np.frombuffer(data, dtype="<i2")
    if fmt in _STUB_AUDIO_FMTS:
        raise NotImplementedError(
            f"audio codec '{fmt}' needs an external decoder (not in this "
            "container); plug one in here — the surrounding plumbing is real"
        )
    raise ValueError(f"unknown audio format {fmt!r}")


def decode_video(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    """bytes -> (n_frames, h, w) uint8 stack. Real for rawv16; stub
    otherwise."""
    if fmt == "rawv16":
        n = len(data) // (w * h)
        return np.frombuffer(data, dtype=np.uint8).reshape(n, h, w)
    if fmt in _STUB_VIDEO_FMTS:
        raise NotImplementedError(
            f"video codec '{fmt}' needs an external decoder (not in this "
            "container); plug one in here — the surrounding plumbing is real"
        )
    raise ValueError(f"unknown video format {fmt!r}")


def audio_stats(media: DataFrame) -> DataFrame:
    """Decode each audio payload and emit exact integer statistics
    (n_samples, sum of squares, zero crossings). Narrow map — no
    shuffle; the aggregation-per-entry shape of the reference's
    Aggregation SPI (core/store/.../api/Aggregation.java:58-69) where
    the per-entry work is a vectorized numpy pass."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                s = decode_audio(r.bytes, r.fmt).astype(np.int64)
                zc = int(np.count_nonzero((s[1:] < 0) != (s[:-1] < 0)))
                rows.append((int(r.media_id), len(s), int(np.sum(s * s)), zc))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_samples", "sum_sq", "zero_cross"]
            )

    return media.select("media_id", "bytes", "fmt").mapInPandas(
        stats, "media_id long, n_samples int, sum_sq long, zero_cross int"
    )


def frame_sample(media: DataFrame, every: int = 2) -> DataFrame:
    """Sample every ``every``-th frame from each video payload: the
    1→N UDTF shape (adapter convertToIndex flatMap analog, SURVEY §2.11)
    — each media row explodes to its sampled frames with the frame
    bytes carried as a first-class binary column plus its pixel sum."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                stack = decode_video(r.bytes, r.fmt, int(r.w), int(r.h))
                for fi in range(0, stack.shape[0], every):
                    fr = stack[fi]
                    rows.append(
                        (
                            int(r.media_id),
                            fi,
                            int(r.w),
                            int(r.h),
                            fr.tobytes(),
                            int(fr.sum(dtype=np.int64)),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "w", "h", "frame", "sum_px"]
            )

    return media.select("media_id", "bytes", "fmt", "w", "h").mapInPandas(
        sample, "media_id long, frame_idx int, w int, h int, frame binary, sum_px long"
    )


def image_thumbnails(
    images: DataFrame,
    out_w: int,
    out_h: int,
    interpolation: str = "bilinear",
    out_fmt: str = "png",
) -> DataFrame:
    """Thumbnail pipeline over the image+caption table: decode (real
    PNG/RAW codecs) → resample (nearest/bilinear, the configurable
    Interpolation of RasterDataAdapter.java:444-550) → re-encode, all
    inside one mapInPandas pass (one Arrow boundary, no per-row
    Python). Emits (image_id, w, h, fmt, bytes, thumb_hash) where
    thumb_hash is the 64-bit difference hash of the RESAMPLED pixels —
    a deterministic end-to-end witness of the decode+resample path
    (the oracle re-derives it from the generator without touching
    bytes, the audio_stats pattern)."""
    from geowave_spark.raster.codec import RESAMPLERS, decode_image, encode_image
    from geowave_spark.sources.images import dhash64

    resample = RESAMPLERS[interpolation]

    def thumbs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_image(bytes(r.bytes), r.fmt)
                small = resample(img, out_h, out_w)
                rows.append(
                    (
                        r.image_id,
                        out_w,
                        out_h,
                        out_fmt,
                        encode_image(small, out_fmt),
                        dhash64(small),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "w", "h", "fmt", "bytes", "thumb_hash"]
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        thumbs, "image_id string, w int, h int, fmt string, bytes binary, thumb_hash long"
    )


def image_embed(images: DataFrame, kernel: str = "highpass", grid: int = 4) -> DataFrame:
    """Deterministic image embedding: decode → feature kernel →
    L2-normalize, float64 end to end so the vector is exactly
    reproducible driver-side (the oracle re-derives it from the
    generator). Kernels: 'blockmean' (grid×grid block means — compact,
    captures global structure) and 'highpass' (centered horizontal
    pixel differences — captures texture; on the synthetic corpus it
    cleanly separates planted near-duplicate pairs, cosine ≥0.92, from
    independent images, ≤0.38). A real deployment would swap the
    kernel for a vision encoder — the Spark-side shape (mapInPandas,
    one Arrow boundary, array<double> feeding operators/similarity) is
    identical."""
    from geowave_spark.raster.codec import decode_image

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_image(bytes(r.bytes), r.fmt)
                rows.append((r.image_id, image_embed_vector(img, kernel, grid)))
            yield pd.DataFrame(rows, columns=["image_id", "embedding"])

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        embed, "image_id string, embedding array<double>"
    )


def image_embed_vector(img: np.ndarray, kernel: str = "highpass", grid: int = 4) -> list:
    """Driver-reusable kernel of image_embed (oracle twin)."""
    p = img.astype(np.float64)
    if kernel == "blockmean":
        h, w = p.shape[:2]
        ys = (np.arange(grid + 1) * h) // grid
        xs = (np.arange(grid + 1) * w) // grid
        v = np.empty(grid * grid, dtype=np.float64)
        for gy in range(grid):
            for gx in range(grid):
                v[gy * grid + gx] = p[ys[gy] : ys[gy + 1], xs[gx] : xs[gx + 1]].mean()
        v /= 255.0
    elif kernel == "highpass":
        v = (p[:, 1:] - p[:, :-1]).flatten()
        v -= v.mean()
    else:
        raise ValueError(f"unknown embedding kernel {kernel!r}")
    n = float(np.sqrt((v * v).sum()))
    return (v / n if n > 0 else v).tolist()


def caption_embed_vector(text: str, dim: int = 16, seed: int = 7) -> list:
    """Driver-reusable text-encoder kernel (oracle twin of
    caption_embed): hashed character-3-gram bag with a signed feature
    projection (crc32 bucket + sign bit), L2-normalized float64. A
    deterministic stand-in for the text tower of a CLIP-style dual
    encoder — a real deployment swaps this function for a trained
    encoder; everything around it (Arrow batching, array<double>
    schema, the top-k join) is unchanged."""
    import zlib

    v = np.zeros(dim, dtype=np.float64)
    t = f"\x02{text}\x03"  # boundary sentinels so prefixes/suffixes hash distinctly
    for j in range(len(t) - 2):
        h = zlib.crc32(t[j : j + 3].encode("utf-8"), seed)
        v[h % dim] += 1.0 if (h >> 16) & 1 else -1.0
    n = float(np.sqrt((v * v).sum()))
    return (v / n if n > 0 else v).tolist()


def caption_embed(
    docs: DataFrame,
    id_col: str = "image_id",
    text_col: str = "caption",
    dim: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Text embedding over a caption/document column → (id, embedding
    array<double>), the text half of cross-modal retrieval. Same plan
    shape as image_embed: mapInPandas, one Arrow boundary per batch,
    no per-row Python outside the batch loop — scales like every other
    media kernel here."""

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].astype(str),
                    "embedding": [
                        caption_embed_vector(t, dim, seed) for t in pdf[text_col]
                    ],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        embed, "id string, embedding array<double>"
    ).withColumnRenamed("id", id_col)


def dual_tower_embed(
    images: DataFrame, kernel: str = "blockmean", grid: int = 4, seed: int = 7
) -> DataFrame:
    """Both towers of the CLIP-style dual encoder in ONE mapInPandas
    pass: decode image → image vector, caption → text vector, emitted
    side by side as (image_id, iv, cv). One Arrow boundary and zero
    joins — the per-pair alignment consumer never shuffles, unlike
    running image_embed + caption_embed separately and equi-joining
    the towers back together. Both vectors are L2-normalized float64
    (image_embed_vector / caption_embed_vector), so cosine degrades
    to a plain dot product downstream."""
    from geowave_spark.raster.codec import decode_image

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dim = grid * grid
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_image(bytes(r.bytes), r.fmt)
                rows.append(
                    (
                        r.image_id,
                        image_embed_vector(img, kernel, grid),
                        caption_embed_vector(r.caption, dim, seed),
                    )
                )
            yield pd.DataFrame(rows, columns=["image_id", "iv", "cv"])

    return images.select("image_id", "bytes", "fmt", "caption").mapInPandas(
        embed, "image_id string, iv array<double>, cv array<double>"
    )


def caption_alignment(
    images: DataFrame, kernel: str = "blockmean", grid: int = 4, seed: int = 7
) -> DataFrame:
    """CLIP-score-style image↔caption alignment: cosine between an
    image's own two tower embeddings — the standard pair-quality
    filter of an image+caption training pipeline (drop pairs whose
    caption does not describe the image). With the deterministic
    stand-in towers the SCORE carries no semantics; the pipeline
    shape is the real product: one dual-tower mapInPandas pass, one
    native sequential-fold dot per row (deterministic order → exactly
    reproducible driver-side), no shuffle. A production deployment
    swaps the two *_vector kernels for trained encoders and
    thresholds `align` as a narrow filter."""
    from geowave_spark.operators.similarity import dot_col

    towers = dual_tower_embed(images, kernel, grid, seed)
    return towers.select(
        "image_id", dot_col(F.col("iv"), F.col("cv")).alias("align")
    )


def validate_images(
    images: DataFrame,
    min_pixels: int = 1024,
    max_aspect: int = 4,
) -> DataFrame:
    """Corpus validation gate — the first filter a web-crawled image
    corpus passes before any training use: try the real decode and
    classify every row. Reasons, in precedence order:

    - ``decode_error``  — bytes do not decode under the declared fmt
      (truncated download, codec lies, stub codec);
    - ``dims_mismatch`` — decoded pixel dims disagree with the row's
      (w, h) metadata columns (corrupt metadata, re-encoded payload);
    - ``too_small``     — decoded area below ``min_pixels``;
    - ``bad_aspect``    — decoded aspect beyond ``max_aspect``:1
      either way (integer-exact comparison, no float ratio);
    - ``ok``.

    Returns (image_id, ok, reason). mapInPandas — one Arrow boundary,
    per-batch Python only around the codec call (the same shape as
    every decode kernel here); downstream consumers filter on ``ok``,
    a narrow predicate Catalyst pushes freely. At 100 TB this runs
    once on ingest and rides the checkpointed write path."""

    from geowave_spark.raster.codec import decode_image

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    img = decode_image(bytes(r.bytes), r.fmt)
                    dh, dw = img.shape[:2]
                except Exception:
                    rows.append((r.image_id, False, "decode_error"))
                    continue
                if (dw, dh) != (r.w, r.h):
                    reason = "dims_mismatch"
                elif dw * dh < min_pixels:
                    reason = "too_small"
                elif dw > max_aspect * dh or dh > max_aspect * dw:
                    reason = "bad_aspect"
                else:
                    reason = "ok"
                rows.append((r.image_id, reason == "ok", reason))
            yield pd.DataFrame(rows, columns=["image_id", "ok", "reason"])

    return images.select("image_id", "bytes", "fmt", "w", "h").mapInPandas(
        check, "image_id string, ok boolean, reason string"
    )
