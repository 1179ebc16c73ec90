"""RIFF/WAVE PCM codec (audio/wav.py): exact roundtrip, container
structure, stereo downmix, 8-bit path, malformed rejection, and the
audio stages' default decoder."""

import struct

import numpy as np
import pytest

from pii_filter_spark.audio.wav import decode_wav, encode_wav, synth_tone


def test_roundtrip_is_16bit_exact():
    x = synth_tone(7)
    sr, y = decode_wav(encode_wav(x))
    assert sr == 16_000 and len(y) == len(x)
    # quantization error bounded by one 16-bit step
    assert float(np.max(np.abs(y - x))) <= 1.0 / 32767.0 + 1e-9


def test_container_structure_is_real_riff():
    data = encode_wav(np.zeros(100))
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"
    assert b"fmt " in data and b"data" in data
    # RIFF size field covers everything after the first 8 bytes
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8


def test_stereo_downmix_and_8bit():
    # hand-build a 2-channel 16-bit WAV: L=+0.5, R=-0.5 -> mono ~0
    frames = np.array([[16384, -16384]] * 50, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(frames)) + frames)
    sr, y = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert sr == 8000 and len(y) == 50
    assert float(np.max(np.abs(y))) < 1e-4
    # 8-bit unsigned path
    samples = np.array([128, 255, 0, 128], dtype=np.uint8).tobytes()
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body8 = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt8
             + b"data" + struct.pack("<I", len(samples)) + samples)
    _, y8 = decode_wav(b"RIFF" + struct.pack("<I", len(body8)) + body8)
    assert y8[0] == 0.0 and y8[1] == 1.0
    assert abs(float(y8[2]) + 128.0 / 127.0) < 1e-6


def test_malformed_rejected():
    with pytest.raises(ValueError):
        decode_wav(b"not riff at all")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x04\x00\x00\x00WAVE")  # no fmt/data


def test_default_decoder_dispatch(spark):
    """The audio stages decode WAVE; non-RIFF bytes are quarantined."""
    from pii_filter_spark.operators.audio_stage import (
        audio_features,
        audio_fingerprints,
    )

    df = spark.createDataFrame(
        [("wav", encode_wav(synth_tone(3))), ("blob", b"opaque blob")],
        "audio_id string, bytes binary",
    ).coalesce(1)
    feats = {r.audio_id: r for r in
             audio_features(df.withColumnRenamed("audio_id", "image_id")).collect()}
    assert feats["wav"].sample_rate == 16_000
    assert feats["wav"].n_samples == len(synth_tone(3))
    assert feats["blob"].sample_rate is None and feats["blob"].rms is None
    fps = {r.audio_id: r.fp64 for r in audio_fingerprints(df).collect()}
    assert fps["wav"] is not None and fps["blob"] is None
