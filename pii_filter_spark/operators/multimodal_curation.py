"""LAION-style multimodal curation composite (the image-side pipeline).

Chains the three image-side gates a web-scale image+caption corpus runs
(Schuhmann et al. 2021; DataComp, Gadre et al. 2023), fused for the
decode cost:

  1. metadata quality rules  — size/aspect/density/format, pure Catalyst
     on typed columns (pixels never decoded for this gate);
  2. image-caption alignment — CLIP-score shape, cosine >= threshold;
  3. content dedup           — pixel pHash, min-id survivor per hash.

The expensive part at 10^12 rows is DECODING BYTES — so gates 2 and 3
share ONE row-mapping pass: decode once, emit (img_emb, txt_emb,
pixel_phash) together. Everything downstream is JVM-side: the fold
cosine, the keep conjunction, and the two-phase skew-safe min-id
survivor (dedup_by_key). The bytes column never shuffles; the only
shuffles are the tiny (image_id, phash) survivor aggregation.

Output per image: every gate's verdict plus the final keep — the
columns a curation report needs for per-gate loss accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .alignment import STUB_THRESHOLD, caption_embedding, image_embedding
from .rowmap import map_rows

_FUSED_SCHEMA = (
    "image_id string, img_emb array<double>, txt_emb array<double>, "
    "pixel_phash long"
)


def _fused_decode_stage(df: DataFrame) -> DataFrame:
    """One decode per image -> both embeddings + pixel pHash."""
    from ..images import decode_image
    from ..images.phash import phash64

    def _go(image_id, data, caption):
        te = caption_embedding(caption).tolist()
        try:
            px = decode_image(bytes(data))
            ie, ph = image_embedding(px).tolist(), phash64(px)
        except ValueError:
            ie = ph = None
        yield image_id, ie, te, ph

    return map_rows(df, ["image_id", "bytes", "caption"], _FUSED_SCHEMA, _go)


def multimodal_curation(df: DataFrame) -> DataFrame:
    """(image_id, quality_ok, align_ok, clip_sim, is_survivor, keep).

    keep = metadata quality AND alignment AND first occurrence of the
    pixel hash (min image_id survivor; undecodable rows never keep).
    """
    from .dedup import dedup_by_key
    from .image_quality import image_quality_filter

    quality = image_quality_filter(df).select(
        "image_id", F.col("keep").alias("quality_ok")
    )
    fused = _fused_decode_stage(df)
    dot = F.aggregate(
        F.zip_with("img_emb", "txt_emb", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # `scored` is a diamond: it feeds both the survivor aggregation and
    # the final verdict join. Without a materialization barrier Spark
    # re-runs the WHOLE decode stage for each consumer — localCheckpoint
    # the post-decode rows (id + sim + phash, bytes and embeddings
    # already dropped) so pixels are decoded exactly once. On a cluster
    # use reliable checkpointing or persist().
    scored = fused.select(
        "image_id",
        "pixel_phash",
        F.round(dot, 4).alias("clip_sim"),
        F.coalesce(dot >= F.lit(STUB_THRESHOLD), F.lit(False)).alias(
            "align_ok"
        ),
    ).localCheckpoint()
    survivors = dedup_by_key(
        scored.where(F.col("pixel_phash").isNotNull()).select(
            "image_id", "pixel_phash"
        ),
        key="pixel_phash",
        id_col="image_id",
    ).select("image_id", F.lit(True).alias("is_survivor"))

    return (
        scored.join(quality, "image_id", "left")
        .join(survivors, "image_id", "left")
        .select(
            "image_id",
            F.coalesce("quality_ok", F.lit(False)).alias("quality_ok"),
            "align_ok",
            "clip_sim",
            F.coalesce("is_survivor", F.lit(False)).alias("is_survivor"),
            (
                F.coalesce("quality_ok", F.lit(False))
                & F.col("align_ok")
                & F.coalesce("is_survivor", F.lit(False))
            ).alias("keep"),
        )
    )
