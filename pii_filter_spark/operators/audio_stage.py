"""Audio-column operators: opaque `bytes` + typed metadata, like images.

Clips decode with the RIFF/WAVE PCM codec (audio/wav.py — 8/16-bit, any
channel count, mono downmix). Everything Spark-side — Arrow batching
(rowmap.map_rows), column pruning, output schema — is real and tested.
Rows the decoder rejects with ValueError (non-WAVE bytes included) are
quarantined to NULL features / fingerprints, never a failed task.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..audio.wav import decode_wav
from .rowmap import map_rows

AUDIO_FEATURE_SCHEMA = (
    "audio_id string, sample_rate int, n_samples long, duration_s double, "
    "rms double, zero_crossing_rate double, peak double"
)


def audio_features(df: DataFrame) -> DataFrame:
    """Per-row acoustic features of (image_id, bytes): duration, RMS,
    zero-crossing rate, peak. Rows decode_wav rejects get NULL features."""

    def _feat(audio_id, data):
        try:
            sr, pcm = decode_wav(bytes(data))
        except ValueError:
            yield audio_id, None, None, None, None, None, None
            return
        n = len(pcm)
        yield (
            audio_id,
            int(sr),
            int(n),
            float(n / sr),
            float(np.sqrt(np.mean(pcm**2))) if n else 0.0,
            float(np.mean(np.abs(np.diff(np.signbit(pcm))))) if n > 1 else 0.0,
            float(np.abs(pcm).max()) if n else 0.0,
        )

    return map_rows(df, ["image_id", "bytes"], AUDIO_FEATURE_SCHEMA, _feat)


def audio_fingerprints(df: DataFrame) -> DataFrame:
    """(audio_id, fp64) from (audio_id, bytes): 64-bit Haitsma-Kalker
    fingerprint per clip (audio/fingerprint.py) — decode + fingerprint
    in ONE Arrow pass, bytes never shuffle. Feeds dedup.hamming_near_pairs (chunks=8 for
    exact recall to hamming<=7), extending near-dup detection to the
    audio modality with the same banded operator text simhash and image
    pHash use. Undecodable rows get a NULL fingerprint, which drops out
    of the pairing."""
    from ..audio.fingerprint import audio_fp64

    def _fp(audio_id, data):
        try:
            sr, samples = decode_wav(bytes(data))
            fp = audio_fp64(samples, sr)
        except ValueError:
            fp = None
        yield audio_id, fp

    return map_rows(
        df, ["audio_id", "bytes"], "audio_id string, fp64 long", _fp
    )
