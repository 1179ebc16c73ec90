"""Perceptual hash (pHash) computed from decoded pixels.

The input_hint table carries a `phash` column (upstream-computed); this
module closes the loop by computing the hash FROM pixel content — the
DCT-based pHash (public algorithm, e.g. Zauner 2010 "Implementation and
Benchmarking of Perceptual Image Hash Functions"; the ImageHash library
popularized this exact recipe):

  1. grayscale (channel mean),
  2. ANTI-ALIASED resize to 32x32 — exact fractional-box area means
     via the integral image (what PIL's antialiased resize does in the
     ImageHash recipe; nearest-neighbor sampling keeps per-pixel codec
     noise and measurably doubles re-encode hamming distance on this
     corpus),
  3. 2-D DCT-II, keep the top-left 8x8 low-frequency block,
  4. threshold each coefficient against the MEDIAN of the 64 (DC term
     excluded from the median so a global brightness shift cannot bias
     the threshold),
  5. 64 bits, row-major, MSB first -> int64 (two's complement, so the
     value drops into the input_hint `phash:int64` slot).

Perceptual property (tested): a re-encode of the same image at a lower
JPEG quality moves the hash by only a few bits, while unrelated images
differ by ~32 — which is what makes hamming-banded near-dup
(operators/dedup.hamming_near_pairs) a content dedup when fed THESE
hashes. Pure numpy, deterministic, shared verbatim by the Spark UDF and
the fixture oracle.
"""

from __future__ import annotations

import numpy as np

_N = 32


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)
    mat = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / (2 * n))
    mat *= np.sqrt(2.0 / n)
    mat[0, :] = np.sqrt(1.0 / n)
    return mat


_DCT32 = _dct_matrix(_N)


def _interp_rows(cs: np.ndarray, edges: np.ndarray, axis: int) -> np.ndarray:
    """Linear interpolation of the integral image at fractional edges."""
    idx = np.floor(edges).astype(int)
    frac = edges - idx
    idx2 = np.minimum(idx + 1, cs.shape[axis] - 1)
    a = np.take(cs, idx, axis=axis)
    b = np.take(cs, idx2, axis=axis)
    f = frac if axis == 1 else frac[:, None]
    return a * (1.0 - f) + b * f


def area_resize_hw(chan: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Exact area-average resample of one channel to (out_h, out_w) —
    fractional box filter via the integral image; works for down- AND
    up-sampling (an output box covering a fraction of one input pixel
    averages to that pixel's value)."""
    h, w = chan.shape
    cs = np.zeros((h + 1, w + 1), dtype=np.float64)
    cs[1:, 1:] = chan.astype(np.float64).cumsum(0).cumsum(1)
    ye = np.linspace(0.0, float(h), out_h + 1)
    xe = np.linspace(0.0, float(w), out_w + 1)
    t = _interp_rows(cs, ye, 0)
    t = _interp_rows(t, xe, 1)
    area = np.outer(np.diff(ye), np.diff(xe))
    return (t[1:, 1:] - t[:-1, 1:] - t[1:, :-1] + t[:-1, :-1]) / area


def area_resize_rgb(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """uint8 HxWx3 (or HxW) -> uint8 out_h x out_w x 3, per-channel exact
    area average, np.rint half-to-even rounding (deterministic)."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    out = np.stack(
        [area_resize_hw(img[:, :, c], out_h, out_w) for c in range(3)],
        axis=2,
    )
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def phash64(pixels: np.ndarray) -> int:
    """RGB (or gray) uint8 array -> signed 64-bit perceptual hash."""
    px = pixels.astype(np.float64)
    gray = px.mean(axis=2) if px.ndim == 3 else px
    small = area_resize_hw(gray, _N, _N)
    coef = _DCT32 @ small @ _DCT32.T
    low = coef[:8, :8]
    flat = low.ravel()
    med = float(np.median(flat[1:]))  # DC excluded from the threshold
    bits = flat > med
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    if v >= 1 << 63:  # two's complement into int64
        v -= 1 << 64
    return v


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")
