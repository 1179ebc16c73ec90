"""Audio fingerprint (Haitsma-Kalker, audio/fingerprint.py) and video
middle-frame pHash: robustness/separation properties and the Spark
stages that feed the shared banded hamming operator."""

import numpy as np
import pytest

from pii_filter_spark.audio.fingerprint import audio_fp64
from pii_filter_spark.audio.wav import decode_wav, encode_wav, synth_tone
from pii_filter_spark.images.phash import hamming64, phash64
from pii_filter_spark.video.avi import (
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    synth_clip,
)


def _wav_fp(x):
    sr, dec = decode_wav(encode_wav(x))
    return audio_fp64(dec, sr)


def test_audio_fp_gain_invariant_and_noise_robust():
    for i in range(8):
        x = synth_tone(i)
        base = _wav_fp(x)
        assert hamming64(base, _wav_fp(np.clip(0.5 * x, -1, 1))) <= 2
        rng = np.random.default_rng((77, i))
        noisy = np.clip(0.95 * x + 0.01 * rng.standard_normal(len(x)), -1, 1)
        assert hamming64(base, _wav_fp(noisy)) <= 7


def test_audio_fp_separates_unrelated_clips():
    fps = [_wav_fp(synth_tone(i)) for i in range(12)]
    for i in range(12):
        for j in range(i + 1, 12):
            assert hamming64(fps[i], fps[j]) > 12, (i, j)


def test_audio_fp_short_and_silent_clips_do_not_crash():
    assert isinstance(audio_fp64(np.zeros(3), 16_000), int)
    assert isinstance(audio_fp64(np.zeros(0), 16_000), int)
    v = audio_fp64(np.zeros(16_000), 16_000)
    assert -(1 << 63) <= v < (1 << 63)


def _clip_fp(i, quality):
    frames = synth_clip(i)
    data = encode_avi_mjpeg(frames, quality=quality)
    decoded = decode_avi_mjpeg(data)[1]
    return phash64(decoded[len(decoded) // 2])


def test_video_midframe_phash_reencode_robust_and_separating():
    for i in range(8):
        assert hamming64(_clip_fp(i, 90), _clip_fp(i, 70)) <= 7, i
    fps = [_clip_fp(i, 90) for i in range(10)]
    for i in range(10):
        for j in range(i + 1, 10):
            assert hamming64(fps[i], fps[j]) > 12, (i, j)


def test_spark_stages_match_pure_rows(spark):
    from pii_filter_spark.operators.audio_stage import audio_fingerprints
    from pii_filter_spark.operators.image_stage import (
        video_middle_frame_phash,
    )

    arows = [(f"a{i}", encode_wav(synth_tone(i))) for i in range(5)]
    adf = spark.createDataFrame(arows, "audio_id string, bytes binary")
    got = {r["audio_id"]: r["fp64"]
           for r in audio_fingerprints(adf).collect()}
    for aid, data in arows:
        sr, dec = decode_wav(data)
        assert got[aid] == audio_fp64(dec, sr)

    vrows = [(f"v{i}", encode_avi_mjpeg(synth_clip(i), quality=90))
             for i in range(4)]
    vdf = spark.createDataFrame(vrows, "video_id string, bytes binary")
    vg = {r["video_id"]: (r["n_frames"], r["mid_phash"])
          for r in video_middle_frame_phash(vdf).collect()}
    for vid, data in vrows:
        decoded = decode_avi_mjpeg(data)[1]
        assert vg[vid] == (len(decoded),
                           phash64(decoded[len(decoded) // 2]))


def test_video_middle_frame_phash_quarantines_bad_rows(spark):
    from pii_filter_spark.operators.image_stage import video_middle_frame_phash
    from pii_filter_spark.video.avi import encode_avi_mjpeg, synth_clip

    rows = [
        ("ok", bytes(encode_avi_mjpeg(synth_clip(3), quality=90))),
        ("bad", b"\x00\x01 not an avi"),
    ]
    df = spark.createDataFrame(rows, "video_id: string, bytes: binary")
    got = {r["video_id"]: r for r in video_middle_frame_phash(df).collect()}
    assert got["ok"]["mid_phash"] is not None
    assert got["bad"]["mid_phash"] is None and got["bad"]["n_frames"] is None
