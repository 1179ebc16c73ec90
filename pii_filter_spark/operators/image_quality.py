"""Image-side quality filter (LAION/DataComp-style heuristics).

The caption stack (quality.py / textstats.py) decides keep/drop from
text; web-scale image curation also drops on IMAGE facts — too small,
extreme aspect ratio, suspicious compression ratio (a near-blank image
compresses to almost nothing; a corrupt stream barely compresses), and
container whitelist (LAION-400M/5B filtering recipe, Schuhmann et al.
2021/2022; DataComp, Gadre et al. 2023). The reference pipeline is
text-only — this is the image half the north rule's quality_filter
tier adds.

Everything here is native Catalyst column arithmetic on the typed
metadata columns (w, h, fmt) and `length(bytes)` — the MB-scale pixel
payload itself is never decoded, never crosses into Python, and (with
column pruning) only its LENGTH is read when the source stores it; at
10^12 rows this stage is a single codegen'd projection+filter, no
shuffle, no UDF. Thresholds are compared on UNROUNDED values; the
reported diagnostic columns are rounded for stable cross-engine
hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Thresholds (LAION-style; tuned so the synthetic 24-64 px corpus
# exercises every rule).
MIN_SIDE = 32          # both dimensions at least this many pixels
MAX_ASPECT = 2.0       # max(w,h)/min(w,h)
MIN_BYTES_PER_PX = 0.02   # below: blank/degenerate content
MAX_BYTES_PER_PX = 4.0    # above: corrupt / not really an image stream
ALLOWED_FMTS = ("png", "jpeg")


def image_quality_filter(df: DataFrame) -> DataFrame:
    """Per-image rule verdicts + keep flag, all JVM-native.

    Output: (image_id, w, h, fmt, aspect, bytes_per_px, size_ok,
    aspect_ok, density_ok, fmt_ok, keep) with aspect/bytes_per_px
    rounded to 4 for hashing; rule comparisons use exact values.
    """
    # Zero/negative dims (corrupt web-crawl metadata) would make the
    # divisions null and keep neither-true-nor-false (round-3 ADVICE):
    # short-circuit them to an explicit drop in both engines.
    # try_divide: under ANSI mode (Spark 4 default) a plain `/` on a
    # zero-dim row would throw and kill the whole job — corrupt rows must
    # degrade to a drop verdict, never to a failed 100-TB stage.
    degenerate = (F.col("w") <= 0) | (F.col("h") <= 0)
    aspect = F.when(
        ~degenerate, F.try_divide(F.greatest("w", "h"), F.least("w", "h"))
    )
    bpp = F.when(
        ~degenerate,
        F.try_divide(F.length("bytes"), F.col("w") * F.col("h") * F.lit(3)),
    )
    size_ok = ~degenerate & (F.col("w") >= MIN_SIDE) & (F.col("h") >= MIN_SIDE)
    aspect_ok = F.when(degenerate, F.lit(False)).otherwise(
        aspect <= F.lit(float(MAX_ASPECT))
    )
    density_ok = F.when(degenerate, F.lit(False)).otherwise(
        (bpp >= F.lit(float(MIN_BYTES_PER_PX))) & (bpp <= F.lit(float(MAX_BYTES_PER_PX)))
    )
    fmt_ok = F.col("fmt").isin(*ALLOWED_FMTS)
    return df.select(
        "image_id", "w", "h", "fmt",
        F.round(aspect, 4).alias("aspect"),
        F.round(bpp, 4).alias("bytes_per_px"),
        size_ok.alias("size_ok"),
        aspect_ok.alias("aspect_ok"),
        density_ok.alias("density_ok"),
        fmt_ok.alias("fmt_ok"),
        (size_ok & aspect_ok & density_ok & fmt_ok).alias("keep"),
    )


def image_quality_row(image_id: str, w: int, h: int, fmt: str, n_bytes: int):
    """Pure-Python twin of image_quality_filter for the fixture oracle
    (same unrounded comparisons, same reported rounding)."""
    from ..oracle_support import _round_like_spark

    if w <= 0 or h <= 0:  # degenerate dims: explicit drop, null diagnostics
        return (image_id, w, h, fmt, None, None, False, False, False,
                fmt in ALLOWED_FMTS, False)
    aspect = max(w, h) / min(w, h)
    bpp = n_bytes / (w * h * 3)
    size_ok = w >= MIN_SIDE and h >= MIN_SIDE
    aspect_ok = aspect <= MAX_ASPECT
    density_ok = MIN_BYTES_PER_PX <= bpp <= MAX_BYTES_PER_PX
    fmt_ok = fmt in ALLOWED_FMTS
    return (
        image_id, w, h, fmt,
        _round_like_spark(aspect, 4),
        _round_like_spark(bpp, 4),
        size_ok, aspect_ok, density_ok, fmt_ok,
        size_ok and aspect_ok and density_ok and fmt_ok,
    )
