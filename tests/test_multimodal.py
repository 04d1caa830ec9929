"""Multimodal audio/video plumbing: real decode round-trips for the
deterministic formats, stats vs direct numpy recomputation, frame
sampling shapes, stubbed codecs raising NotImplementedError."""

import numpy as np
import pytest

from geowave_spark.operators.multimodal import (
    audio_stats,
    decode_audio,
    decode_video,
    frame_sample,
)
from geowave_spark.sources.media import (
    VID_H,
    VID_W,
    audio_samples,
    audio_table,
    video_frames,
    video_table,
)

N_AUDIO = 40
N_VIDEO = 30


@pytest.fixture(scope="module")
def audio(spark):
    return audio_table(spark, N_AUDIO).cache()


@pytest.fixture(scope="module")
def video(spark):
    return video_table(spark, N_VIDEO).cache()


def test_audio_decode_roundtrip(audio):
    rows = audio.where("media_id IN (0, 3, 17)").collect()
    assert rows
    for r in rows:
        got = decode_audio(bytes(r.bytes), r.fmt)
        np.testing.assert_array_equal(got, audio_samples(r.media_id))


def test_audio_stats_exact(spark, audio):
    got = {r.media_id: r for r in audio_stats(audio).collect()}
    assert len(got) == N_AUDIO
    for key in (0, 5, 19, N_AUDIO - 1):
        s = audio_samples(key).astype(np.int64)
        r = got[key]
        assert r.n_samples == len(s)
        assert r.sum_sq == int(np.sum(s * s))
        assert r.zero_cross == int(np.count_nonzero((s[1:] < 0) != (s[:-1] < 0)))


def test_video_decode_roundtrip(video):
    r = video.where("media_id = 7").first()
    got = decode_video(bytes(r.bytes), r.fmt, r.w, r.h)
    np.testing.assert_array_equal(got, video_frames(7))
    assert got.shape == (r.n_frames, VID_H, VID_W)


def test_frame_sample(video):
    every = 2
    out = frame_sample(video, every=every).collect()
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r)
        assert r.frame_idx % every == 0
        fr = np.frombuffer(bytes(r.frame), dtype=np.uint8)
        assert len(fr) == VID_H * VID_W
        assert r.sum_px == int(fr.astype(np.int64).sum())
        np.testing.assert_array_equal(
            fr.reshape(VID_H, VID_W), video_frames(r.media_id)[r.frame_idx]
        )
    for key, rows in by_media.items():
        nf = video_frames(key).shape[0]
        assert len(rows) == (nf + every - 1) // every


def test_stub_codecs_raise():
    with pytest.raises(NotImplementedError):
        decode_audio(b"\x00", "mp3")
    with pytest.raises(NotImplementedError):
        decode_video(b"\x00", "h264", 16, 16)
    with pytest.raises(ValueError):
        decode_audio(b"\x00", "nonsense")


def test_image_thumbnails_end_to_end(spark):
    """Thumbnail pipeline: decoded thumbnail pixels equal a driver-side
    decode→bilinear-resample of the same deterministic images (both
    PNG and RAW inputs), round-tripped through the PNG re-encode."""
    import numpy as np

    from geowave_spark.operators.multimodal import image_thumbnails
    from geowave_spark.raster.codec import decode_image, resample_bilinear
    from geowave_spark.sources.images import images_table, render_pixels

    n, w = 48, 32
    imgs = images_table(spark, n, w=w, h=w, partitions=4)
    out = image_thumbnails(imgs, 16, 16).toPandas().set_index("image_id")
    assert len(out) == n
    fmts = set()
    for i in range(n):
        row = out.loc[f"img{i:012d}"]
        got = decode_image(bytes(row["bytes"]), row["fmt"])
        want = resample_bilinear(render_pixels(i, w, w), 16, 16)
        assert np.array_equal(got, want), i
        fmts.add("raw" if i % 3 == 0 else "png")
    assert fmts == {"raw", "png"}  # both decode paths exercised


def test_image_embedding_near_dup_recovers_planted_pairs(spark):
    """Embedding-cosine near-dup on IMAGES: highpass embeddings feed
    the exact cosine pair machinery; the planted near-duplicate pairs
    (i%8==5 copies of i-3) separate cleanly — every planted pair
    scores >=0.9 and no other pair reaches 0.7."""
    from geowave_spark.operators.multimodal import image_embed
    from geowave_spark.operators.similarity import dot_col
    from geowave_spark.sources.images import images_table
    from pyspark.sql import functions as F

    n = 160
    imgs = images_table(spark, n, w=32, h=32, partitions=4)
    emb = image_embed(imgs, kernel="highpass")
    a = emb.select(F.col("image_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("image_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot_col(F.col("va"), F.col("vb")))
        .where(F.col("cos") >= 0.7)
        .select("id_a", "id_b", "cos")
        .collect()
    )
    got = {(r.id_a, r.id_b) for r in pairs}
    want = {
        (f"img{i - 3:012d}", f"img{i:012d}")
        for i in range(n)
        if i % 8 == 5 and i >= 3
    }
    assert got == want
    assert all(r.cos >= 0.9 for r in pairs)


# ------------------------------------------------ validate_images


def test_validate_images_clean_corpus_all_ok_or_shape_flagged(spark):
    """On the uncorrupted fixed-size table everything decodes and
    matches metadata; 32x32 passes the default size/aspect rules."""
    from geowave_spark.operators.multimodal import validate_images
    from geowave_spark.sources.images import images_table

    out = validate_images(images_table(spark, 60, w=32, h=32, partitions=2)).collect()
    assert len(out) == 60
    assert all(r["ok"] and r["reason"] == "ok" for r in out)


def test_validate_images_planted_failures(spark):
    """Each failure class is detected with the documented precedence."""
    from pyspark.sql import functions as F

    from geowave_spark.operators.multimodal import validate_images
    from geowave_spark.sources.images import images_table_var, var_dims

    imgs = images_table_var(spark, 120, partitions=4)
    i = F.substring("image_id", 4, 12).cast("long")
    planted = imgs.select(
        "image_id",
        F.when(i % 23 == 0, F.expr("substring(bytes, 1, 8)"))
        .otherwise(F.col("bytes"))
        .alias("bytes"),
        "fmt",
        F.when((i % 23 != 0) & (i % 29 == 0), F.col("w") + 16)
        .otherwise(F.col("w"))
        .alias("w"),
        "h",
    )
    got = {r["image_id"]: r["reason"] for r in validate_images(planted).collect()}
    assert len(got) == 120
    for k, reason in got.items():
        n = int(k[3:])
        w, h = var_dims(n)
        if n % 23 == 0:
            exp = "decode_error"
        elif n % 29 == 0:
            exp = "dims_mismatch"
        elif w * h < 1024:
            exp = "too_small"
        elif w > 4 * h or h > 4 * w:
            exp = "bad_aspect"
        else:
            exp = "ok"
        assert reason == exp, (k, reason, exp)
    # every class actually occurs in the planted corpus
    assert {"decode_error", "dims_mismatch", "too_small", "bad_aspect", "ok"} <= set(
        got.values()
    )
