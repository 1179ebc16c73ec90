"""Image–caption alignment filter (the LAION CLIP-score filter shape).

LAION-400M/5B's central quality filter drops image–text pairs whose
CLIP cosine similarity is below a threshold (0.28 for EN in Schuhmann
et al. 2021 §2.2). This operator implements that pipeline stage
Spark-first for the input_hint table (image_id, bytes, caption):

  * ONE row-mapping pass over (image_id, bytes, caption) computes both
    embeddings per row — the MB-scale `bytes` column enters exactly one
    Python stage straight off the scan and never shuffles;
  * the cosine is JVM-side: `zip_with` product + left-to-right
    `aggregate` fold over the two unit vectors (whole-stage codegen,
    same fold order the repo's embedding oracles replicate);
  * `keep = clip_sim >= threshold` is a codegen'd comparison — at
    10^12 rows the stage is embarrassingly parallel with ZERO shuffles.

Model seam: real CLIP is a GPU model that is not available here, so
the two encoders are deterministic stand-ins with the REAL signature —
`image_embedding(pixels) -> unit float64[DIM]` (decoded-pixel grid
features through a fixed seeded projection) and
`caption_embedding(text) -> unit float64[DIM]` (signed hashed
bag-of-words, the fastText trick). Everything downstream of them
(batching, schema, cosine, threshold, metrics) is the production
operator; a real encoder replaces these two functions.
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rowmap import map_rows

DIM = 64
_PROJ_SEED = 23
# LAION's EN threshold is 0.28 (Schuhmann et al. 2021), the value for a
# REAL CLIP encoder. The deterministic stand-in encoders are uncorrelated
# across modalities (their cosine is ~N(0, DIM^-1/2)), so the gate uses
# STUB_THRESHOLD, calibrated to that distribution's upper third — the
# gate mechanics (fold cosine, codegen keep, loss accounting) are what
# the stub exercises, not CLIP's semantics.
STUB_THRESHOLD = 0.05

_EMB_SCHEMA = (
    "image_id string, img_emb array<double>, txt_emb array<double>"
)


def _grid_features(px: np.ndarray) -> np.ndarray:
    """20 deterministic features: 4x4 gray grid means + RGB means + std."""
    g = px.astype(np.float64).mean(axis=2)
    h, w = g.shape
    ys = np.linspace(0, h, 5).round().astype(int)
    xs = np.linspace(0, w, 5).round().astype(int)
    grid = [
        g[ys[i]:max(ys[i + 1], ys[i] + 1), xs[j]:max(xs[j + 1], xs[j] + 1)].mean()
        for i in range(4)
        for j in range(4)
    ]
    rgb = px.astype(np.float64).reshape(-1, 3).mean(axis=0)
    return np.array(grid + rgb.tolist() + [g.std()], dtype=np.float64)


def _projection() -> np.ndarray:
    rng = np.random.default_rng(_PROJ_SEED)
    return rng.standard_normal((20, DIM))


_PROJ: Optional[np.ndarray] = None


def image_embedding(px: np.ndarray) -> np.ndarray:
    """Unit float64[DIM] from decoded pixels (deterministic stand-in)."""
    global _PROJ
    if _PROJ is None:
        _PROJ = _projection()
    v = (_grid_features(px) / 255.0) @ _PROJ
    n = float(np.sqrt(np.dot(v, v)))
    return v / n if n > 0 else v


def caption_embedding(text: str) -> np.ndarray:
    """Unit float64[DIM]: signed hashed bag-of-words (fastText-style)."""
    v = np.zeros(DIM, dtype=np.float64)
    for w in (text or "").lower().split():
        d = hashlib.md5(w.encode("utf-8")).digest()
        idx = int.from_bytes(d[:4], "big") % DIM
        sign = 1.0 if d[4] & 1 else -1.0
        v[idx] += sign
    n = float(np.sqrt(np.dot(v, v)))
    return v / n if n > 0 else v


def alignment_filter(df: DataFrame) -> DataFrame:
    """(image_id, clip_sim, keep) for every image+caption row.

    clip_sim is the cosine of the two embeddings (both unit vectors, so
    the JVM-side zip_with/aggregate dot IS the cosine); keep is
    clip_sim >= STUB_THRESHOLD. Decode failures yield clip_sim NULL and
    keep false.
    """
    from ..images import decode_image

    def _embed(image_id, data, caption):
        try:
            ie = image_embedding(decode_image(bytes(data))).tolist()
        except ValueError:
            ie = None
        yield image_id, ie, caption_embedding(caption).tolist()

    emb = map_rows(df, ["image_id", "bytes", "caption"], _EMB_SCHEMA, _embed)
    dot = F.aggregate(
        F.zip_with("img_emb", "txt_emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "image_id",
        F.round(dot, 4).alias("clip_sim"),
        F.coalesce(dot >= F.lit(STUB_THRESHOLD), F.lit(False)).alias("keep"),
    )


def alignment_row(rec: dict):
    """Pure-Python twin of one alignment_filter row (fixture oracles):
    same decode, same embeddings, same left-to-right fold dot."""
    from ..images import decode_image

    try:
        px = decode_image(bytes(rec["bytes"]))
        ie = image_embedding(px)
    except ValueError:
        return rec["image_id"], None, False
    te = caption_embedding(rec["caption"])
    acc = 0.0
    for a, b in zip(ie.tolist(), te.tolist()):
        acc += a * b
    return rec["image_id"], acc, acc >= STUB_THRESHOLD
