"""Cross-modal duplicate clusters: caption-text OR image-content edges.

A web image corpus duplicates along BOTH modalities, and they don't
line up: the same photo gets re-hosted with a rewritten caption (image
near-dup, text differs), and the same boilerplate caption is stamped
onto thousands of distinct product shots (text dup, image differs).
LAION-style curation therefore deduplicates on the union of both
signals; a pipeline that only dedups one modality keeps the other's
copies.

Edges, both from scale-proven pieces:

  * text edges — exact duplicate captions under the CCNet §4.1
    normalization (`ccnet_normalize.normalize_expr`): a min-id STAR per
    caption digest (O(group) edges, one window shuffle on the digest —
    never the quadratic all-pairs a corpus-scale boilerplate caption
    would explode into; a star is connectivity-equivalent for the
    components step);
  * image edges — pixel-content pHash pairs via the banded
    `dedup.hamming_near_pairs` (chunks=8 -> pigeonhole-EXACT recall for
    hamming <= 7), hashes from ONE `compute_phash` decode pass (bytes
    never shuffle).

The union feeds `components.dedup_clusters` (large-star/small-star,
O(log n) rounds) for cluster ids and min-id survivors. At 10^12 rows
every stage is the already-audited shape: one decode pass, one digest
window, one banded bucket shuffle, log-round components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def caption_digest_edges(df: DataFrame) -> DataFrame:
    """(id_a, id_b) min-id star of `image_id`s per normalized-caption
    digest."""
    from .ccnet_normalize import normalize_expr

    keyed = df.select(
        F.col("image_id"), F.md5(normalize_expr(F.col("caption"))).alias("_ck")
    )
    w = Window.partitionBy("_ck")
    return (
        keyed.withColumn("_hub", F.min("image_id").over(w))
        .where(F.col("image_id") != F.col("_hub"))
        .select(F.col("_hub").alias("id_a"), F.col("image_id").alias("id_b"))
    )


def cross_modal_dedup(df: DataFrame) -> DataFrame:
    """(image_id, cluster_id, is_survivor) over text ∪ image edges of an
    (image_id, caption, bytes) frame."""
    from .components import dedup_clusters
    from .dedup import hamming_near_pairs
    from .image_stage import compute_phash

    text_edges = caption_digest_edges(df)
    hashes = compute_phash(df).where(
        F.col("pixel_phash").isNotNull()
    )
    image_edges = hamming_near_pairs(
        hashes,
        hash_col="pixel_phash",
        id_col="image_id",
        max_hamming=7,
        chunks=8,  # pigeonhole-exact recall at <= 7 bits
    ).select("id_a", "id_b")
    edges = text_edges.unionByName(image_edges)
    return dedup_clusters(df, edges, id_col="image_id")
