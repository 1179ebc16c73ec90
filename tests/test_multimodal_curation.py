"""LAION-style multimodal curation composite: per-gate verdicts, exact
dedup of byte-copies, conjunction semantics, decode-failure rows."""

from pyspark.sql import functions as F

from pii_filter_spark.operators.multimodal_curation import (
    multimodal_curation,
)


def _table(spark, n=18):
    from pii_filter_spark.sources.synth import build_input_table

    imgs = build_input_table(spark, n, seed=42, num_partitions=2)
    copies = imgs.where(
        F.substring("image_id", 5, 8).cast("int") % 3 == 0
    ).withColumn("image_id", F.concat(F.lit("zz_"), F.col("image_id")))
    return imgs.unionByName(copies)


def test_exact_copies_lose_to_min_id(spark):
    out = {
        r.image_id: r
        for r in multimodal_curation(_table(spark)).collect()
    }
    for rid, r in out.items():
        if rid.startswith("zz_"):
            orig = out[rid[3:]]
            assert not r.is_survivor and not r.keep
            assert orig.is_survivor
            # identical bytes -> identical downstream verdicts
            assert (r.align_ok, r.clip_sim) == (orig.align_ok, orig.clip_sim)


def test_keep_is_the_conjunction(spark):
    for r in multimodal_curation(_table(spark)).collect():
        assert r.keep == (r.quality_ok and r.align_ok and r.is_survivor)


def test_corrupt_bytes_never_keep(spark):
    df = spark.createDataFrame(
        [("bad", b"junk", 64, 64, "jpeg", "caption", 1)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long",
    )
    r = multimodal_curation(df).collect()[0]
    assert r.clip_sim is None and not r.align_ok
    assert not r.is_survivor and not r.keep
