"""Malformed media is bad input, never a task failure.

Every decoder reports a file it cannot decode as ValueError, malformed
or of an unsupported kind alike, and raises nothing else, not even a
warning; every decode stage quarantines those rows. The corpus is
truncations and single-bit flips of valid PNG, JPEG, WAV and AVI bytes,
plus bytes of the wrong kind.
"""

import struct
import warnings
from functools import lru_cache

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pii_filter_spark.audio.wav import decode_wav, encode_wav, synth_tone
from pii_filter_spark.images.codecs import decode_image, encode_image
from pii_filter_spark.video.avi import decode_avi_mjpeg, encode_avi_mjpeg, synth_clip


@lru_cache(maxsize=None)
def _valid():
    """{name: (decoder, valid bytes)}: small files, so every corrupt
    variant decodes in milliseconds."""
    px = np.random.default_rng(0).integers(0, 256, (16, 24, 3), dtype=np.uint8)
    return {
        "png": (decode_image, encode_image(px, "png")),
        "jpeg": (decode_image, encode_image(px, "jpeg")),
        "wav": (decode_wav, encode_wav(synth_tone(3)[:200])),
        "avi": (decode_avi_mjpeg,
                encode_avi_mjpeg(synth_clip(0), quality=90)),
    }


def _decodes_or_rejects(decode, data: bytes) -> None:
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        try:
            decode(data)
        except ValueError:
            pass


def _flip(data: bytes, pos: int, bit: int) -> bytes:
    out = bytearray(data)
    out[pos] ^= 1 << bit
    return bytes(out)


@pytest.mark.parametrize("name", ["png", "jpeg", "wav", "avi"])
def test_truncated_and_bit_flipped_files_raise_only_value_errors(name):
    decode, data = _valid()[name]
    decode(data)  # the uncorrupted file decodes
    step = max(1, len(data) // 150)
    for n in range(0, len(data), step):
        _decodes_or_rejects(decode, data[:n])
    for pos in range(0, len(data), step):
        for bit in range(8):
            _decodes_or_rejects(decode, _flip(data, pos, bit))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    name=st.sampled_from(["png", "jpeg", "wav", "avi"]),
    cut=st.floats(0.0, 1.0),
    flips=st.lists(st.tuples(st.floats(0.0, 1.0), st.integers(0, 7)), max_size=3),
)
def test_random_corruptions_raise_only_value_errors(name, cut, flips):
    decode, data = _valid()[name]
    for frac, bit in flips:
        data = _flip(data, min(int(frac * len(data)), len(data) - 1), bit)
    _decodes_or_rejects(decode, data[: max(1, int(cut * len(data)))])


def _nested_avi(depth: int) -> bytes:
    body = b""
    for _ in range(depth):
        body = b"LIST" + struct.pack("<I", len(body) + 4) + b"movi" + body
    return b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body


def test_named_malformed_cases_are_value_errors():
    """A half PNG (zlib.error), a 20-byte PNG (struct.error), truncated
    JPEG and AVI (EOFError), a 30-byte WAV (struct.error) and an AVI
    nested deeper than the recursion limit (RecursionError) — each a
    ValueError chained from the original error. A WAV with sample rate 0
    is rejected too: the feature stage divides by it. So is a valid JPEG
    whose SOF0 marker is rewritten to SOF2 (progressive, not decoded)."""
    files = _valid()
    cases = [
        ("png", files["png"][1][: len(files["png"][1]) // 2]),
        ("png", files["png"][1][:20]),
        ("jpeg", files["jpeg"][1][: len(files["jpeg"][1]) * 3 // 4]),
        ("avi", files["avi"][1][: len(files["avi"][1]) // 2]),
        ("avi", _nested_avi(3000)),
        ("wav", files["wav"][1][:30]),
    ]
    for name, data in cases:
        with pytest.raises(ValueError) as info:
            files[name][0](data)
        assert info.value.__cause__ is not None, name
    with pytest.raises(ValueError, match="sample rate 0"):
        wav = encode_wav(np.zeros(10))
        decode_wav(wav[:24] + bytes(8) + wav[32:])  # sample and byte rate 0
    jpeg = files["jpeg"][1]
    sof2 = jpeg.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert sof2 != jpeg
    with pytest.raises(ValueError, match="non-baseline JPEG"):
        decode_image(sof2)


def test_truncated_rows_are_quarantined_by_the_stages(spark):
    """compute_phash, the fused curation decode, verify_images,
    audio_fingerprints, audio_features, sample_video_frames and
    video_middle_frame_phash complete over truncated files and, for the
    audio and video stages, over bytes without the RIFF magic (empty,
    two bytes, a PNG, plain text); those rows get NULL hashes and
    features, decode_ok false, no frames. Each table is one partition, so
    the healthy row shares its Arrow batch with the NULL rows and must
    keep its exact values."""
    from pii_filter_spark.audio.fingerprint import audio_fp64
    from pii_filter_spark.images.phash import phash64
    from pii_filter_spark.operators.audio_stage import (
        audio_features,
        audio_fingerprints,
    )
    from pii_filter_spark.operators.image_stage import (
        FRAME_STRIDE,
        compute_phash,
        sample_video_frames,
        verify_images,
        video_middle_frame_phash,
    )
    from pii_filter_spark.operators.multimodal_curation import _fused_decode_stage
    from pyspark.sql import functions as F

    files = _valid()
    png, jpeg, wav = files["png"][1], files["jpeg"][1], files["wav"][1]
    no_magic = [("empty", b""), ("two_bytes", b"\x00\x01"), ("png", png),
                ("text", b"plain text, not a media file")]
    images = [
        ("ok_png", png, "png"),
        ("half_png", png[: len(png) // 2], "png"),
        ("png_20", png[:20], "png"),
        ("cut_jpeg", jpeg[: len(jpeg) * 3 // 4], "jpeg"),
        ("garbage", b"\x00\x01", "png"),
    ]
    df = spark.createDataFrame(
        [(i, b, 24, 16, f) for i, b, f in images],
        "image_id string, bytes binary, w int, h int, fmt string",
    ).coalesce(1)
    expected = phash64(decode_image(png))
    assert abs(expected) > 2**53  # not exact in float64
    for hashes in (
        {r.image_id: r.pixel_phash for r in compute_phash(df).collect()},
        {r.image_id: r.pixel_phash for r in _fused_decode_stage(
            df.withColumn("caption", F.lit("uma foto"))).collect()},
    ):
        assert hashes.pop("ok_png") == expected
        assert hashes == {i: None for i, _, _ in images[1:]}
    verified = {r.image_id: r for r in verify_images(df).collect()}
    assert verified.pop("ok_png").decode_ok
    assert sorted(verified) == sorted(i for i, _, _ in images[1:])
    assert not any(r.decode_ok or r.dims_ok for r in verified.values())

    bad_audio = [("wav_30", wav[:30]), ("half", wav[: len(wav) // 2 + 1]),
                 *no_magic]
    audio = spark.createDataFrame(
        [("ok", wav), *bad_audio], "audio_id string, bytes binary",
    ).coalesce(1)
    fps = {r.audio_id: r.fp64 for r in audio_fingerprints(audio).collect()}
    sr, pcm = decode_wav(wav)
    expected = audio_fp64(pcm, sr)
    assert abs(expected) > 2**53
    assert fps == {"ok": expected, **{i: None for i, _ in bad_audio}}
    feats = {r.audio_id: r for r in
             audio_features(audio.withColumnRenamed("audio_id", "image_id")).collect()}
    ok = feats.pop("ok")
    assert (ok.sample_rate, ok.n_samples) == (sr, len(pcm))
    assert ok.rms == float(np.sqrt(np.mean(pcm**2)))
    assert ok.peak == float(np.abs(pcm).max())
    assert sorted(feats) == sorted(i for i, _ in bad_audio)
    assert all(set(r[1:]) == {None} for r in feats.values())

    avi = files["avi"][1]
    bad_clips = [("half", avi[: len(avi) // 2]), ("wav", wav), *no_magic]
    clips = spark.createDataFrame(
        [("ok", avi), *bad_clips], "video_id string, bytes binary",
    ).coalesce(1)
    mid = decode_avi_mjpeg(avi)[1]
    frames = sorted(
        (r.video_id, r.frame_idx, r.frame_gray_mean)
        for r in sample_video_frames(
            clips.withColumnRenamed("video_id", "image_id")
        ).collect()
    )
    assert frames == [("ok", i, float(px.mean())) for i, px in enumerate(mid)
                      if i % FRAME_STRIDE == 0]
    expected = phash64(mid[len(mid) // 2])
    assert abs(expected) > 2**53
    mids = {r.video_id: (r.n_frames, r.mid_phash)
            for r in video_middle_frame_phash(clips).collect()}
    assert mids == {"ok": (len(mid), expected),
                    **{i: (None, None) for i, _ in bad_clips}}
