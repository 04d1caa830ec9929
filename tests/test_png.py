import zlib

import numpy as np
import pytest

from geowave_spark.raster.codec import (
    decode_image,
    decode_raw,
    encode_image,
    encode_raw,
    resample_nearest,
)
from geowave_spark.raster.png import png_decode, png_encode
from oracles import psnr


def test_png_roundtrip_gray():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (37, 53), dtype=np.uint8)
    assert np.array_equal(png_decode(png_encode(img)), img)


def test_png_roundtrip_rgb_rgba():
    rng = np.random.default_rng(2)
    for ch in (3, 4):
        img = rng.integers(0, 256, (16, 24, ch), dtype=np.uint8)
        assert np.array_equal(png_decode(png_encode(img)), img)


def test_png_decodes_filtered_scanlines():
    """Hand-build a PNG using filter types 1-4 and verify unfiltering."""
    import struct

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (5, 4), dtype=np.uint8)
    # filter each line with a different type (0,1,2,3,4)
    lines = []
    prev = np.zeros(4, dtype=np.int32)
    for y, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = img[y].astype(np.int32)
        if ftype == 0:
            enc = cur
        elif ftype == 1:
            enc = np.array([cur[x] - (cur[x - 1] if x >= 1 else 0) for x in range(4)])
        elif ftype == 2:
            enc = cur - prev
        elif ftype == 3:
            enc = np.array(
                [cur[x] - (((cur[x - 1] if x >= 1 else 0) + prev[x]) >> 1) for x in range(4)]
            )
        else:
            def paeth(a, b, c):
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

            enc = np.array(
                [
                    cur[x]
                    - paeth(
                        cur[x - 1] if x >= 1 else 0,
                        prev[x],
                        prev[x - 1] if x >= 1 else 0,
                    )
                    for x in range(4)
                ]
            )
        lines.append(bytes([ftype]) + bytes((enc & 0xFF).astype(np.uint8)))
        prev = cur
    raw = b"".join(lines)

    def chunk(tag, data):
        return struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(png_decode(png), img)


def test_raw_roundtrip():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (8, 9), dtype=np.uint8)
    assert np.array_equal(decode_raw(encode_raw(img)), img)


def test_decode_dispatch_and_jpeg_stub():
    img = np.zeros((4, 4), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_image(img, "png"), "png"), img)
    assert np.array_equal(decode_image(encode_image(img, "raw"), "raw"), img)
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff", "jpeg")


def test_resample_nearest_identity_and_half():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert np.array_equal(resample_nearest(img, 8, 8), img)
    half = resample_nearest(img, 4, 4)
    assert half.shape == (4, 4)
    assert np.array_equal(half, img[::2, ::2])


def test_psnr():
    a = np.full((8, 8), 100, dtype=np.uint8)
    assert psnr(a, a) == float("inf")
    b = a.copy()
    b[0, 0] += 1
    assert psnr(a, b) > 40
