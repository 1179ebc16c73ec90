"""Format dispatch + PSNR for the binary image column."""

from __future__ import annotations

import math

import numpy as np

from .jpeg_codec import decode_jpeg, encode_jpeg
from .png_codec import PNG_SIGNATURE, decode_png, encode_png

_JPEG_SIG = b"\xff\xd8\xff"


def encode_image(pixels: np.ndarray, fmt: str, quality: int = 90) -> bytes:
    """Encode RGB uint8 pixels. fmt: "png" (lossless) | "jpeg" (real
    baseline JFIF via the pure-numpy codec — deterministic across
    environments, unlike a libjpeg version lottery)."""
    if fmt == "png":
        return encode_png(pixels)
    if fmt == "jpeg":
        return encode_jpeg(pixels, quality)
    raise ValueError(f"unsupported format: {fmt!r}")


def decode_image(data: bytes) -> np.ndarray:
    """Decode by magic bytes -> RGB uint8 (h, w, 3). JPEG is the real
    baseline T.81 decoder (jpeg_codec.py)."""
    if data.startswith(PNG_SIGNATURE):
        return decode_png(data)
    if data.startswith(_JPEG_SIG):
        return decode_jpeg(data)
    raise ValueError("unrecognized image container")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return math.inf
    return 10.0 * math.log10(255.0 * 255.0 / mse)
