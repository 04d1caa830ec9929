"""Image decode/encode dispatch for the image+caption table
(BASELINE.json input_hint: bytes binary + fmt string).

PNG is real (geowave_spark.raster.png). JPEG decode is stubbed behind
an import-try + NotImplementedError per the task constraints (no
imaging libs in the container); the Spark-side plumbing — schema,
Arrow batch shape, UDF signatures — is identical for both formats, so
swapping in a real JPEG codec is a leaf change.
"""

from __future__ import annotations

import numpy as np

from geowave_spark.raster.png import png_decode, png_encode

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except Exception:
    _HAS_PIL = False


_RAW_MAGIC = b"RAW1"


def encode_raw(img: np.ndarray) -> bytes:
    """Engine-native uncompressed container: magic + h,w,c (u32 LE) + pixels.
    Stands in for additional compressed formats in this container."""
    import struct

    if img.dtype != np.uint8:
        raise ValueError("uint8 only")
    if img.ndim == 2:
        h, w = img.shape
        c = 1
    else:
        h, w, c = img.shape
    return _RAW_MAGIC + struct.pack("<III", h, w, c) + img.tobytes()


def decode_raw(data: bytes) -> np.ndarray:
    import struct

    if bytes(data[:4]) != _RAW_MAGIC:
        raise ValueError("not RAW1")
    h, w, c = struct.unpack_from("<III", data, 4)
    img = np.frombuffer(data, dtype=np.uint8, offset=16).reshape(h, w, c)
    return img[:, :, 0] if c == 1 else img


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "raw":
        return decode_raw(bytes(data))
    if fmt == "raw2":
        return decode_raw_typed(bytes(data))
    if fmt == "png":
        return png_decode(bytes(data))
    if fmt in ("jpeg", "jpg"):
        if _HAS_PIL:  # pragma: no cover
            import io

            from PIL import Image

            return np.asarray(Image.open(io.BytesIO(data)))
        raise NotImplementedError(
            "JPEG decode requires an imaging library not present in this "
            "container; PNG path is fully implemented"
        )
    raise ValueError(f"unknown format {fmt!r}")


def encode_image(img: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return encode_raw(img)
    if fmt == "raw2":
        return encode_raw_typed(img)
    if fmt == "png":
        return png_encode(img)
    raise NotImplementedError(f"encode for {fmt!r} not available here")


def resample_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic nearest-neighbor resample (integer index math only —
    FIXTURES.md asks for fixed interpolation so PSNR bounds reproduce;
    the reference's configurable Interpolation default for tiles)."""
    h, w = img.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return img[ys][:, xs]


def resample_bilinear(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic bilinear resample at output pixel centers — the
    reference's configurable Interpolation option for tile warping
    (RasterDataAdapter.java:444-550 exposes INTERP_BILINEAR alongside
    the nearest default). Source coordinates use the standard
    half-pixel-center mapping sx = (j + .5) * w/out_w - .5, edge
    clamped; weights are exact in float64, the result rounds half-up
    back to the input dtype. Linear ramps are reproduced exactly
    (tests/test_tiling.py golden)."""
    h, w = img.shape[:2]
    sy = (np.arange(out_h, dtype=np.float64) + 0.5) * (h / out_h) - 0.5
    sx = (np.arange(out_w, dtype=np.float64) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(sy).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(sx).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    # weight shapes carry trailing singleton dims so multiband (H, W, C)
    # inputs broadcast like grayscale (nearest and bicubic both handle
    # band dims; bilinear previously raised on them)
    tail = (1,) * (img.ndim - 2)
    wy = np.clip(sy - y0, 0.0, 1.0).reshape((out_h, 1) + tail)
    wx = np.clip(sx - x0, 0.0, 1.0).reshape((1, out_w) + tail)
    p = img.astype(np.float64)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    out = top * (1 - wy) + bot * wy
    if np.issubdtype(img.dtype, np.integer):
        info = np.iinfo(img.dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(img.dtype)
    return out.astype(img.dtype)


def _cubic_kernel(t: np.ndarray, a: float = -0.5) -> np.ndarray:
    """Keys cubic-convolution kernel (a = −0.5, the JAI
    InterpolationBicubic coefficient; Keys, IEEE TASSP 1981). Exact on
    polynomials up to degree 2; support [−2, 2]."""
    t = np.abs(t)
    return np.where(
        t <= 1.0,
        (a + 2.0) * t**3 - (a + 3.0) * t**2 + 1.0,
        np.where(t < 2.0, a * (t**3 - 5.0 * t**2 + 8.0 * t - 4.0), 0.0),
    )


def resample_bicubic(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic bicubic resample — the general JAI Interpolation
    option of the reference's RasterDataAdapter (RasterDataAdapter.java
    :444-550 accepts any Interpolation; bicubic is the third member of
    the nearest/bilinear/bicubic ladder). Separable 4-tap Keys cubic
    convolution (a = −0.5) at half-pixel output centers, edge-clamped
    taps (weights still sum to 1, so flat fields are exact everywhere
    and linear/quadratic ramps are exact away from the clamped border).
    Float64 accumulation; integer dtypes round half-up and clip."""
    h, w = img.shape[:2]
    sy = (np.arange(out_h, dtype=np.float64) + 0.5) * (h / out_h) - 0.5
    sx = (np.arange(out_w, dtype=np.float64) + 0.5) * (w / out_w) - 0.5
    y0 = np.floor(sy).astype(np.int64)
    x0 = np.floor(sx).astype(np.int64)
    fy = sy - y0
    fx = sx - x0
    p = img.astype(np.float64)
    tail = (1,) * (p.ndim - 2)
    # x pass: (h, w, …) -> (h, out_w, …)
    acc_x = np.zeros((h, out_w) + p.shape[2:], dtype=np.float64)
    for k in range(-1, 3):
        xi = np.clip(x0 + k, 0, w - 1)
        wk = _cubic_kernel(k - fx).reshape((1, out_w) + tail)
        acc_x += p[:, xi] * wk
    # y pass: (h, out_w, …) -> (out_h, out_w, …)
    out = np.zeros((out_h, out_w) + p.shape[2:], dtype=np.float64)
    for k in range(-1, 3):
        yi = np.clip(y0 + k, 0, h - 1)
        wk = _cubic_kernel(k - fy).reshape((out_h, 1) + tail)
        out += acc_x[yi] * wk
    if np.issubdtype(img.dtype, np.integer):
        info = np.iinfo(img.dtype)
        return np.clip(np.floor(out + 0.5), info.min, info.max).astype(img.dtype)
    return out.astype(img.dtype)


RESAMPLERS = {
    "nearest": resample_nearest,
    "bilinear": resample_bilinear,
    "bicubic": resample_bicubic,
}


_RAW2_MAGIC = b"RAW2"
_DTYPES = ["uint8", "int16", "uint16", "int32", "float32", "float64"]


def encode_raw_typed(img: np.ndarray) -> bytes:
    """Typed multi-band container: magic + dtype code + h,w,c — the
    DataBuffer-type generality of the reference's RasterTile payloads
    (extensions/adapters/raster/.../RasterTile.java, DataBuffer types)."""
    import struct

    name = str(img.dtype)
    if name not in _DTYPES:
        raise ValueError(f"unsupported sample dtype {name}")
    if img.ndim == 2:
        h, w = img.shape
        c = 1
    else:
        h, w, c = img.shape
    return (
        _RAW2_MAGIC
        + struct.pack("<IIII", _DTYPES.index(name), h, w, c)
        + np.ascontiguousarray(img).tobytes()
    )


def decode_raw_typed(data: bytes) -> np.ndarray:
    import struct

    if bytes(data[:4]) != _RAW2_MAGIC:
        raise ValueError("not RAW2")
    d, h, w, c = struct.unpack_from("<IIII", data, 4)
    img = np.frombuffer(data, dtype=_DTYPES[d], offset=20).reshape(h, w, c)
    return img[:, :, 0] if c == 1 else img
