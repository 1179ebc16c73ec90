"""Blur / information-content metrics for image-side quality filtering.

LAION-5B and DataComp-style curation drop images that carry no usable
visual signal: heavily blurred thumbnails, solid-color placeholders,
low-entropy banner fills. The two standard cheap detectors are

  * variance of the Laplacian (Pech-Pacheco et al. 2000, the classic
    "blur detection" statistic — OpenCV's `cv2.Laplacian(...).var()`):
    blur is a low-pass, so the second-derivative response collapses;
  * grayscale histogram entropy: placeholders / flat fills concentrate
    mass in a few bins.

Both are implemented here as pure vectorized numpy over the repo's
decoded uint8 pixels — no cv2/PIL (not in this container, and the
arithmetic below is the published definition, not a library port).
Grayscale is the channel mean, matching `images/phash.py` so every
pixel-level operator in the repo agrees on luma.
"""

from __future__ import annotations

import numpy as np


def gray_f64(px: np.ndarray) -> np.ndarray:
    """uint8 HxW[x3] -> float64 HxW grayscale (channel mean, as phash)."""
    a = px.astype(np.float64)
    return a.mean(axis=2) if a.ndim == 3 else a


def laplacian_var(px: np.ndarray) -> float:
    """Variance of the 4-neighbour Laplacian over the gray interior.

    Kernel [[0,1,0],[1,-4,1],[0,1,0]] via shifted slices (no convolution
    library); images smaller than 3x3 have no interior -> 0.0 (maximally
    blurry by convention).
    """
    g = gray_f64(px)
    if g.shape[0] < 3 or g.shape[1] < 3:
        return 0.0
    lap = (
        g[:-2, 1:-1] + g[2:, 1:-1] + g[1:-1, :-2] + g[1:-1, 2:]
        - 4.0 * g[1:-1, 1:-1]
    )
    return float(lap.var())


def gray_entropy(px: np.ndarray) -> float:
    """Shannon entropy (bits) of the 256-bin rounded-gray histogram."""
    g = np.clip(np.rint(gray_f64(px)), 0, 255).astype(np.int64)
    hist = np.bincount(g.ravel(), minlength=256)
    p = hist[hist > 0] / g.size
    # + 0.0 folds the single-bin -0.0 to +0.0 (engines disagree on -0.0)
    return float(-(p * np.log2(p)).sum() + 0.0)


def _box1d(a: np.ndarray, axis: int) -> np.ndarray:
    """Mean over a clamped window of width 7 along `axis` (cumsum trick)."""
    r = 3
    n = a.shape[axis]
    zero = np.zeros_like(np.take(a, [0], axis=axis))
    cs = np.concatenate([zero, np.cumsum(a, axis=axis)], axis=axis)
    hi = np.minimum(np.arange(n) + r + 1, n)
    lo = np.maximum(np.arange(n) - r, 0)
    sums = np.take(cs, hi, axis=axis) - np.take(cs, lo, axis=axis)
    shape = [1] * a.ndim
    shape[axis] = n
    return sums / (hi - lo).reshape(shape)


def box_blur(px: np.ndarray) -> np.ndarray:
    """Deterministic separable 7 x 7 box blur (true moving-average
    low-pass; NOT a downscale/upscale round-trip, whose block-replication
    upsampling would ADD hard edges and raise the Laplacian). Exact
    integral-image arithmetic, np.rint half-to-even — bit-identical in
    any engine."""
    a = px.astype(np.float64)
    if a.ndim == 2:
        a = a[:, :, None]
    out = _box1d(_box1d(a, 0), 1)
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out[:, :, 0] if px.ndim == 2 else out
