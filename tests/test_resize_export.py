"""Export resize (images/phash.area_resize_rgb +
operators/image_stage.resize_to_buckets): exact area semantics, bucket
parity with export_prep's Catalyst argmin, and Spark-stage parity with
the pure row function."""

import numpy as np

from pii_filter_spark.images.phash import area_resize_hw, area_resize_rgb


def test_integer_factor_downsample_is_block_mean():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (32, 48)).astype(np.uint8)
    out = area_resize_hw(img, 8, 12)
    blocks = img.astype(np.float64).reshape(8, 4, 12, 4).mean(axis=(1, 3))
    assert np.allclose(out, blocks, atol=1e-9)


def test_upsample_constant_stays_constant():
    img = np.full((5, 7), 113, dtype=np.uint8)
    out = area_resize_rgb(img, 64, 96)
    assert out.shape == (64, 96, 3)
    assert (out == 113).all()


def test_total_mass_preserved_fractional():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (10, 10)).astype(np.uint8)
    out = area_resize_hw(img, 3, 7)  # fractional boxes both axes
    # area-weighted mean is conserved by construction
    assert abs(out.mean() - img.astype(np.float64).mean()) < 1e-6


def test_gray_input_becomes_rgb():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    out = area_resize_rgb(img, 4, 4)
    assert out.shape == (4, 4, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all()


def test_bucket_choice_matches_export_prep_catalyst(spark):
    from pii_filter_spark.operators.export_prep import assign_aspect_buckets
    from pii_filter_spark.operators.image_stage import resize_export_row
    from pii_filter_spark.images.codecs import encode_image

    rng = np.random.default_rng(9)
    dims = [(16, 64), (20, 20), (64, 16), (33, 17), (17, 33), (40, 24)]
    rows = [(f"i{k}", int(w), int(h)) for k, (w, h) in enumerate(dims)]
    catalyst = {
        r["image_id"]: (r["bucket_w"], r["bucket_h"])
        for r in assign_aspect_buckets(
            spark.createDataFrame(rows, "image_id string, w int, h int")
        ).collect()
    }
    for k, (w, h) in enumerate(dims):
        img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        bw, bh, _, _, _ = resize_export_row(encode_image(img, "png"))
        # the resize buckets are export_prep's at 1/16 scale
        assert (16 * bw, 16 * bh) == catalyst[f"i{k}"], (w, h)


def test_spark_stage_matches_pure_rows(spark):
    from pii_filter_spark.operators.image_stage import (
        resize_export_row,
        resize_to_buckets,
    )
    from pii_filter_spark.sources.synth import gen_row

    rows = [(r["image_id"], bytes(r["bytes"]))
            for r in (gen_row(7, i) for i in range(8))]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: (r["bucket_w"], r["bucket_h"], r["out_len"],
                           r["out_md5"])
           for r in resize_to_buckets(df).collect()}
    for img_id, data in rows:
        assert got[img_id] == resize_export_row(data)[:4]


def test_with_bytes_emits_decodable_jpeg():
    from pii_filter_spark.images import decode_image
    from pii_filter_spark.operators.image_stage import resize_export_row
    from pii_filter_spark.sources.synth import gen_row

    bw, bh, out_len, _, out_bytes = resize_export_row(bytes(gen_row(7, 1)["bytes"]))
    px = decode_image(out_bytes)
    assert px.shape == (bh, bw, 3)
    assert len(out_bytes) == out_len


def test_resize_quarantines_undecodable_and_rejects_empty_buckets(spark):
    from pii_filter_spark.operators.image_stage import resize_to_buckets

    df = spark.createDataFrame(
        [("bad", b"not an image")], "image_id: string, bytes: binary"
    )
    out = resize_to_buckets(df).collect()
    assert len(out) == 1 and out[0]["out_md5"] is None
