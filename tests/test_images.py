"""Image codec invariants: PNG exactness, real-JPEG PSNR, dispatch."""

import numpy as np
import pytest

from pii_filter_spark.images import decode_image, encode_image, psnr
from pii_filter_spark.sources.synth import LOSSY_QUALITY, make_image


def _img(seed=0, w=48, h=36):
    return make_image(np.random.default_rng(seed), w, h)


def test_png_roundtrip_exact():
    img = _img(1)
    assert np.array_equal(decode_image(encode_image(img, "png")), img)


def test_png_nonsquare_and_odd_sizes():
    for w, h in [(24, 64), (33, 25), (8, 8)]:
        img = _img(2, w, h)
        dec = decode_image(encode_image(img, "png"))
        assert dec.shape == (h, w, 3)
        assert np.array_equal(dec, img)


def test_lossy_psnr_at_fixture_quality():
    for seed in range(5):
        img = _img(seed, 64, 64)
        dec = decode_image(encode_image(img, "jpeg", quality=LOSSY_QUALITY))
        assert psnr(img, dec) >= 40.0


def test_psnr_identity_is_inf():
    img = _img(3)
    assert psnr(img, img) == float("inf")


def test_unknown_container_rejected():
    with pytest.raises(ValueError):
        decode_image(b"garbage-bytes-here")


def test_jpeg_bytes_are_real_jfif():
    """Baseline JFIF structure: SOI/APP0-JFIF/SOF0/EOI and 3-component
    4:4:4 sampling — any standard viewer could open these bytes."""
    img = _img(4, 40, 32)
    data = encode_image(img, "jpeg", quality=LOSSY_QUALITY)
    assert data.startswith(b"\xff\xd8\xff\xe0") and data.endswith(b"\xff\xd9")
    assert data[6:11] == b"JFIF\x00"
    sof = data.find(b"\xff\xc0")
    assert sof > 0
    h = int.from_bytes(data[sof + 5:sof + 7], "big")
    w = int.from_bytes(data[sof + 7:sof + 9], "big")
    assert (h, w, data[sof + 9]) == (32, 40, 3)


def test_jpeg_decoder_handles_420_subsampled_input():
    """The decoder is a general baseline decoder: real 4:2:0 streams
    (the common web-crawl shape, Hi/Vi = 2x2 luma / 1x1 chroma) must
    decode at full dims with sane fidelity — including non-multiple-of-16
    sizes that exercise the MCU edge padding."""
    from pii_filter_spark.images.jpeg_codec import decode_jpeg, encode_jpeg
    from pii_filter_spark.images.codecs import psnr as _psnr

    for seed, (w, h) in enumerate([(32, 32), (17, 23), (64, 41)]):
        img = _img(seed, w, h)
        data = encode_jpeg(img, quality=95, subsampling="420")
        sof = data.find(b"\xff\xc0")
        assert data[sof + 11] == 0x22  # Y sampling really is 2x2
        out = decode_jpeg(data)
        assert out.shape == (h, w, 3)
        assert _psnr(img, out) >= 30.0

    with pytest.raises(ValueError):
        encode_jpeg(_img(0, 8, 8), subsampling="422")


def test_jpeg_reencode_psnr_headroom():
    """The invariant image_verify checks is decode->re-encode->decode;
    at fixture quality it must clear 40 dB with margin."""
    for seed in range(3):
        img = _img(seed, 56, 44)
        first = decode_image(encode_image(img, "jpeg", quality=LOSSY_QUALITY))
        second = decode_image(
            encode_image(first, "jpeg", quality=LOSSY_QUALITY)
        )
        assert psnr(first, second) >= 45.0


def test_sample_video_frames_plumbing(spark):
    """Fan-out mapInPandas: one MJPEG AVI row -> every-2nd-frame rows,
    PNG re-encoded, deterministic across runs."""
    from pii_filter_spark.images import decode_image
    from pii_filter_spark.operators.image_stage import sample_video_frames
    from pii_filter_spark.video.avi import encode_avi_mjpeg, synth_clip

    clips = [(f"v{i}", encode_avi_mjpeg(synth_clip(i))) for i in range(6)]
    df = spark.createDataFrame(clips, "image_id string, bytes binary").repartition(3)
    out = sample_video_frames(df).collect()
    assert sorted((r.video_id, r.frame_idx) for r in out) == sorted(
        (f"v{i}", idx) for i in range(6) for idx in range(0, len(synth_clip(i)), 2)
    )
    again = sample_video_frames(df).collect()
    assert sorted((r.video_id, r.frame_idx) for r in out) == \
           sorted((r.video_id, r.frame_idx) for r in again)
    for r in out[:5]:
        assert r.frame_idx % 2 == 0
        px = decode_image(bytes(r.frame_bytes))
        assert px.shape == (r.frame_h, r.frame_w, 3)
        assert abs(float(px.mean()) - r.frame_gray_mean) < 1e-6


def test_audio_features_plumbing(spark):
    from pii_filter_spark.audio.wav import encode_wav, synth_tone
    from pii_filter_spark.operators.audio_stage import audio_features

    tones = [(f"a{i}", encode_wav(synth_tone(i))) for i in range(8)]
    df = spark.createDataFrame(tones, "image_id string, bytes binary").repartition(2)
    rows = {r.audio_id: r for r in audio_features(df).collect()}
    assert len(rows) == 8
    for i in range(8):
        r = rows[f"a{i}"]
        assert r.sample_rate == 16_000
        assert r.n_samples == len(synth_tone(i))
        assert abs(r.duration_s - r.n_samples / 16_000) < 1e-9
        assert 0.0 < r.rms < 1.0
        assert 0.0 <= r.zero_crossing_rate <= 1.0

    # bytes the decoder refuses -> null features, no crash
    junk = spark.createDataFrame([(f"a{i}", b"refused") for i in range(8)],
                                 "image_id string, bytes binary").repartition(2)
    nulls = audio_features(junk).collect()
    assert len(nulls) == 8 and all(r.sample_rate is None for r in nulls)
