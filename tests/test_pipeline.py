"""End-to-end pipeline: input table → scrub+quality → batch directories +
manifest, with the per-row invariants of FIXTURES.md B3."""

import numpy as np
import pytest

from pii_filter_spark.images import decode_image, psnr
from pii_filter_spark.operators.image_stage import image_features, verify_images
from pii_filter_spark.pipeline import run_pipeline
from pii_filter_spark.sources import table_io
from pii_filter_spark.sources.synth import write_input_table
from tests.oracle import reference_semantics as oracle

N = 300
SEED = 5


@pytest.fixture(scope="module")
def io_paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("pipe")
    inp, out = str(root / "input"), str(root / "output")
    write_input_table(spark, inp, N, seed=SEED, num_partitions=8)
    run_pipeline(spark, inp, out, num_parts=16, batch_parts=8)
    return inp, out


def test_row_count_and_schema(spark, io_paths):
    _, out = io_paths
    df = table_io.read_table(spark, out)
    assert df.count() == N
    cols = set(df.columns)
    assert {"image_id", "bytes", "caption", "scrubbed_caption", "pii_masked",
            "keep", "drop_reasons", "scrub_count", "lang", "ppl",
            "part_id"} <= cols


def test_scrubbed_captions_and_keep_match_oracle(spark, io_paths):
    inp, out = io_paths
    rows = table_io.read_table(spark, out).select(
        "image_id", "caption", "scrubbed_caption", "keep", "drop_reasons"
    ).collect()
    assert len(rows) == N
    for r in rows:
        lab = oracle.label_row(r["caption"])
        assert r["scrubbed_caption"] == lab["scrubbed_caption"]
        assert r["keep"] == lab["keep"]
        assert list(r["drop_reasons"]) == lab["drop_reasons"]


def test_bytes_passthrough_and_psnr(spark, io_paths):
    inp, out = io_paths
    src = {r["image_id"]: r for r in
           table_io.read_table(spark, inp).select("image_id", "bytes", "fmt").collect()}
    got = table_io.read_table(spark, out).select("image_id", "bytes").collect()
    for r in got:
        orig = src[r["image_id"]]
        assert bytes(r["bytes"]) == bytes(orig["bytes"])  # byte-identical
        a = decode_image(bytes(orig["bytes"]))
        b = decode_image(bytes(r["bytes"]))
        if orig["fmt"] == "png":
            assert np.array_equal(a, b)
        else:
            assert psnr(a, b) >= 40.0


def test_manifest_metrics_idempotent_and_consistent(spark, io_paths):
    _, out = io_paths
    entries = table_io.read_manifest(out)
    assert len(entries) == 16
    assert sum(e["rows_in"] for e in entries) == N
    kept = sum(e["rows_kept"] for e in entries)
    dropped = sum(e["rows_dropped"] for e in entries)
    assert kept + dropped == N
    df = table_io.read_table(spark, out)
    assert kept == df.where("keep").count()


def test_verify_images_stage(spark, io_paths):
    inp, _ = io_paths
    df = table_io.read_table(spark, inp)
    v = verify_images(df)
    rows = v.collect()
    assert len(rows) == N
    assert all(r["decode_ok"] for r in rows)
    assert all(r["dims_ok"] for r in rows)
    assert all(r["reencode_psnr"] >= 40.0 for r in rows)


def test_image_features_stage(spark, io_paths):
    inp, _ = io_paths
    rows = image_features(table_io.read_table(spark, inp).limit(20)).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["mean_r"] is not None
        assert len(r["thumb"]) == 64
        assert all(0 <= t <= 255 for t in r["thumb"])


def test_scrub_image_bytes_writeback(spark, tmp_path_factory):
    """Optional bytes-writeback stage: metadata-bearing PNG/JPEG inputs
    come out with metadata stripped, decoded pixels bit-identical, and
    the resume contract intact."""
    from pii_filter_spark.images.jpeg_metadata import (
        count_meta_segments,
        extract_jpeg_text_metadata,
        is_jpeg,
    )
    from pii_filter_spark.images.metadata import (
        count_ancillary,
        extract_text_metadata,
        is_png,
    )
    from pii_filter_spark.operators.image_metadata import (
        inject_fixture_metadata,
        inject_jpeg_fixture_metadata,
    )

    root = tmp_path_factory.mktemp("pipe_bytes")
    inp, out = str(root / "input"), str(root / "output")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=4)

    # plant metadata into BOTH containers, rewrite the input in place
    src = table_io.read_table(spark, inp).collect()
    import pandas as pd

    pdf = pd.DataFrame([r.asDict() for r in src])
    pdf["bytes"] = [
        inject_jpeg_fixture_metadata(
            inject_fixture_metadata(bytes(b), i), i
        )
        for i, b in enumerate(pdf["bytes"])
    ]
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(inp)
    planted = sum(
        count_ancillary(bytes(b)) + count_meta_segments(bytes(b))
        for b in pdf["bytes"]
    )
    assert planted > 0

    run_pipeline(spark, inp, out, num_parts=8, batch_parts=4,
                 scrub_image_bytes=True)

    srcmap = {r["image_id"]: bytes(r["bytes"]) for _, r in pdf.iterrows()}
    got = table_io.read_table(spark, out).select("image_id", "bytes").collect()
    assert len(got) == 60
    for r in got:
        clean = bytes(r["bytes"])
        orig = srcmap[r["image_id"]]
        if is_png(clean):
            assert count_ancillary(clean) == 0
            assert extract_text_metadata(clean) == []
            assert np.array_equal(decode_image(clean), decode_image(orig))
        else:
            assert is_jpeg(clean)
            assert count_meta_segments(clean) == 0
            assert extract_jpeg_text_metadata(clean) == []
            assert np.array_equal(decode_image(clean), decode_image(orig))

    # resume contract: a second run over the completed manifest is a no-op
    assert run_pipeline(spark, inp, out, num_parts=8, batch_parts=4,
                        scrub_image_bytes=True) == []
