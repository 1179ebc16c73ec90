"""Pixel-content pHash (images/phash.py + image_stage.compute_phash):
determinism, brightness invariance of the threshold, perceptual
robustness to real-JPEG re-encodes, separation of unrelated images, and
the Spark plumbing."""

import numpy as np

from pii_filter_spark.images import decode_image, encode_image
from pii_filter_spark.images.phash import hamming64, phash64
from pii_filter_spark.sources.synth import make_image


def _img(seed, w=48, h=40):
    return make_image(np.random.default_rng(seed), w, h)


def test_deterministic_and_int64_range():
    img = _img(1)
    a, b = phash64(img), phash64(img)
    assert a == b
    assert -(1 << 63) <= a < (1 << 63)


def test_reencode_stays_well_inside_unrelated_distance():
    """Synthetic gradient+noise is pHash's worst case (the AC band is
    noise); the property that matters is SEPARATION: re-encodes must
    stay far below the unrelated-image distance band (>= ~24)."""
    for seed in range(6):
        img = _img(seed)
        variant = decode_image(encode_image(img, "jpeg", quality=90))
        assert hamming64(phash64(img), phash64(variant)) <= 14


def test_unrelated_images_are_far():
    dists = [
        hamming64(phash64(_img(s)), phash64(_img(s + 100)))
        for s in range(6)
    ]
    assert min(dists) >= 18  # random gradients differ in many bits


def test_resize_invariance():
    # nearest-neighbor upscale of the same content stays close
    img = _img(3, 32, 32)
    big = np.repeat(np.repeat(img, 2, axis=0), 2, axis=1)
    assert hamming64(phash64(img), phash64(big)) <= 4


def test_spark_compute_phash_and_pairs(spark):
    from pii_filter_spark.operators.dedup import hamming_near_pairs
    from pii_filter_spark.operators.image_stage import (
        compute_phash,
        reencode_variants,
    )
    from pii_filter_spark.sources.synth import build_input_table

    imgs = build_input_table(spark, 24, seed=42, num_partitions=4).select(
        "image_id", "bytes"
    )
    variants = reencode_variants(imgs)
    hashes = compute_phash(imgs.unionByName(variants))
    assert hashes.where("pixel_phash is null").count() == 0
    pairs = hamming_near_pairs(
        hashes, "pixel_phash", "image_id", max_hamming=16, chunks=8
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # contract: any pair agreeing on >= 1 of the 8 8-bit chunks with
    # hamming <= 16 is discovered (pigeonhole makes that EVERY pair with
    # hamming <= 7; above 7 it holds iff some chunk agrees)
    hv = {r.image_id: r.pixel_phash for r in hashes.collect()}
    mask = (1 << 64) - 1
    for i in range(24):
        a, b = f"img_{i:08d}", f"img_{i:08d}_re"
        x = (hv[a] ^ hv[b]) & mask
        ham = bin(x).count("1")
        chunk_agree = any(
            (x >> (8 * c)) & 0xFF == 0 for c in range(8)
        )
        if ham <= 16 and chunk_agree:
            assert (a, b) in got or (b, a) in got, (a, ham)
    # and the re-encode property makes that the COMMON case
    found = sum(
        1 for i in range(24)
        if (f"img_{i:08d}", f"img_{i:08d}_re") in got
        or (f"img_{i:08d}_re", f"img_{i:08d}") in got
    )
    assert found >= 22
    # corrupt bytes -> null hash
    bad = spark.createDataFrame(
        [("x", b"junk")], "image_id string, bytes binary"
    )
    assert compute_phash(bad).collect()[0].pixel_phash is None
