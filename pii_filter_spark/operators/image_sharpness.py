"""Image sharpness / information-content quality filter (LAION shape).

Web-scale image curation drops frames that carry no learnable visual
signal even when the caption is fine: blurred thumbnails and upscaled
placeholders (low variance-of-Laplacian) and solid-color / banner fills
(low grayscale entropy). LAION-5B and DataComp both apply image-side
keep rules of this family alongside the CLIP-score gate; the classic
blur statistic is the variance of the Laplacian (Pech-Pacheco et al.
2000 — `images/sharpness.py` implements the published arithmetic in
pure numpy, no cv2).

Execution shape — the same one every pixel-touching operator in this
repo uses: ONE row-mapping pass (rowmap.map_rows) directly off the
scan (`bytes` never shuffles), vectorized numpy per image, a codegen
keep predicate on the two scalar metrics. At 10^12 rows this is a
map-only stage fused into the scan; undecodable rows surface as
keep=false with null metrics (quarantine semantics, same as
verify_images).

Thresholds are STUB-CALIBRATED to the deterministic synthetic corpus
(documented in README's seam table): gradient+noise synth images
measure lap_var >= ~97 while their box-blurred twins measure <= ~2, so
LAPVAR_MIN=25 splits them with wide margin; flat placeholder fills
measure entropy ~0 bits vs >= ~7 for real content, so ENTROPY_MIN=3.
Production calibration against real photographs (cv2 folklore uses
lap_var ~100) is a threshold swap, not a code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..images import decode_image
from ..images.sharpness import gray_entropy, laplacian_var
from .rowmap import map_rows

LAPVAR_MIN = 25.0
ENTROPY_MIN = 3.0

_SCHEMA = "image_id string, lap_var double, entropy double"


def sharpness_row(data: bytes):
    """(lap_var, entropy) for one image's bytes — the pure twin."""
    px = decode_image(data)
    return laplacian_var(px), gray_entropy(px)


def blur_variants(df: DataFrame) -> DataFrame:
    """7-px box-blurred LOSSLESS (PNG) twins with "~blur"-suffixed ids — the
    deterministic stand-in for the blurred thumbnails and bad upscales a
    web corpus contains (PNG so the blurred pixels, and therefore the
    metrics, are exact in any engine)."""
    from ..images.codecs import encode_image
    from ..images.sharpness import box_blur

    def _re(image_id, data):
        try:
            out = encode_image(box_blur(decode_image(bytes(data))), "png")
        except ValueError:
            return
        yield image_id + "~blur", out

    return map_rows(df, ["image_id", "bytes"], "image_id string, bytes binary", _re)


def flat_placeholder_rows():
    """Four deterministic solid-fill PNGs — the placeholder/banner case
    the entropy rule exists for (entropy ~0 bits)."""
    import numpy as np

    from ..images.codecs import encode_image

    return [
        (f"flat_{v:03d}", encode_image(np.full((64, 64, 3), v, np.uint8), "png"))
        for v in (40, 90, 160, 220)
    ]


def image_sharpness(df: DataFrame) -> DataFrame:
    """(image_id, lap_var, entropy, keep): one decode pass, keep is a
    codegen predicate over the two metrics against LAPVAR_MIN and
    ENTROPY_MIN."""

    def _score(image_id, data):
        try:
            lv, ent = sharpness_row(bytes(data))
        except ValueError:
            lv = ent = None
        yield image_id, lv, ent

    scored = map_rows(df, ["image_id", "bytes"], _SCHEMA, _score)
    return scored.select(
        "image_id",
        "lap_var",
        "entropy",
        (
            F.col("lap_var").isNotNull()
            & (F.col("lap_var") >= LAPVAR_MIN)
            & (F.col("entropy") >= ENTROPY_MIN)
        ).alias("keep"),
    )
