"""Cross-modal duplicate clusters (caption digest ∪ pixel-pHash edges)."""

from pyspark.sql import functions as F

from pii_filter_spark.operators.cross_modal_dedup import (
    caption_digest_edges,
    cross_modal_dedup,
)
from pii_filter_spark.operators.image_stage import reencode_variants
from pii_filter_spark.sources.synth import build_input_table


def test_caption_edges_are_min_id_stars(spark):
    rows = [
        ("a1", "Same caption here."),
        ("a2", "same   CAPTION here."),  # normalizes equal -> dup of a1
        ("b1", "Different text entirely."),
        ("a0", "Same caption, here."),  # punctuation differs -> NOT equal
    ]
    df = spark.createDataFrame(rows, "image_id: string, caption: string")
    edges = {(r["id_a"], r["id_b"]) for r in caption_digest_edges(df).collect()}
    assert edges == {("a1", "a2")}


def test_cross_modal_clusters(spark):
    imgs = (
        build_input_table(spark, 24, seed=42, num_partitions=4)
        .select("image_id", "bytes", "caption")
        .localCheckpoint()
    )
    idx = F.substring("image_id", 5, 8).cast("int")
    # image near-dups: q90 re-encodes of idx%4==0 with unique captions
    re = reencode_variants(imgs.where(idx % 4 == 0))
    # digit-free so the digits->0 normalization can't weld them together
    re = re.withColumn(
        "caption",
        F.concat(
            F.lit("re-hosted copy "),
            F.translate(F.col("image_id"), "0123456789", "abcdefghij"),
        ),
    )
    # text dups: every 6th caption on a fresh (seed-777) image
    fresh = (
        build_input_table(spark, 24, seed=777, num_partitions=4)
        .where(idx % 6 == 0)
        .select("image_id", F.col("bytes").alias("fb"))
    )
    zz = (
        imgs.where(idx % 6 == 0)
        .join(F.broadcast(fresh), "image_id")
        .select(
            F.concat(F.lit("zz_"), "image_id").alias("image_id"),
            F.col("fb").alias("bytes"),
            "caption",
        )
    )
    out = cross_modal_dedup(imgs.unionByName(re).unionByName(zz)).collect()
    cluster = {r["image_id"]: r["cluster_id"] for r in out}
    surv = {r["image_id"]: r["is_survivor"] for r in out}
    assert len(cluster) == 24 + 6 + 4

    # every zz_ row joins its caption-source's cluster (text edge)
    for i in range(0, 24, 6):
        orig = f"img_{i:08d}"
        assert cluster[f"zz_{orig}"] == cluster[orig]
        assert not surv[f"zz_{orig}"]
    # re-encodes whose pHash drifted <= 7 bits join their original;
    # synthetic gradient+noise is a pHash worst case, so just require
    # that NO re-encode merged into a WRONG original's cluster.
    for i in range(0, 24, 4):
        orig = f"img_{i:08d}"
        rid = f"{orig}_re"
        assert cluster[rid] in (cluster[orig], rid)
    # survivors are exactly the min-id member of each cluster
    by_cluster = {}
    for rid, c in cluster.items():
        by_cluster.setdefault(c, []).append(rid)
    for c, members in by_cluster.items():
        assert c == min(members)
        assert {m for m in members if surv[m]} == {min(members)}
