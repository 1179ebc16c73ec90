"""Image-caption alignment filter (operators/alignment.py): embedding
determinism/normalization, threshold semantics, decode-failure rows,
and Spark/twin parity."""

import numpy as np
import pytest

from pii_filter_spark.operators.alignment import (
    DIM,
    STUB_THRESHOLD,
    alignment_filter,
    alignment_row,
    caption_embedding,
    image_embedding,
)


def test_embeddings_are_unit_and_deterministic():
    img = np.full((16, 16, 3), 128, dtype=np.uint8)
    e1, e2 = image_embedding(img), image_embedding(img)
    assert e1.shape == (DIM,)
    assert np.array_equal(e1, e2)
    assert abs(float(np.dot(e1, e1)) - 1.0) < 1e-12
    t1 = caption_embedding("a cat on a mat")
    assert abs(float(np.dot(t1, t1)) - 1.0) < 1e-12
    # empty caption -> zero vector (cos 0, dropped)
    assert float(np.dot(caption_embedding(""), caption_embedding(""))) == 0.0


def test_identical_captions_align_perfectly():
    a = caption_embedding("spark reads the table")
    b = caption_embedding("spark reads the table")
    assert abs(float(np.dot(a, b)) - 1.0) < 1e-12


def test_spark_matches_twin_and_threshold(spark):
    from pii_filter_spark.sources.synth import gen_row

    recs = [gen_row(7, i) for i in range(24)]
    df = spark.createDataFrame(
        [(r["image_id"], r["bytes"], r["caption"]) for r in recs],
        "image_id string, bytes binary, caption string",
    )
    got = {
        r.image_id: (r.clip_sim, r.keep)
        for r in alignment_filter(df).collect()
    }
    from pii_filter_spark.oracle_support import _round_like_spark

    for r in recs:
        image_id, sim, keep = alignment_row(r)
        assert got[image_id] == (
            None if sim is None else _round_like_spark(sim),
            keep,
        )
        # every row decodes; keep is the threshold test on the cosine
        assert sim is not None and keep == (sim >= STUB_THRESHOLD)
    # the threshold splits this sample: some rows kept, some dropped
    assert {keep for _, keep in got.values()} == {True, False}


def test_corrupt_bytes_yield_null_sim_and_drop(spark):
    df = spark.createDataFrame(
        [("bad_0", b"not-an-image", "some caption")],
        "image_id string, bytes binary, caption string",
    )
    row = alignment_filter(df).collect()[0]
    assert row.clip_sim is None and row.keep is False
