"""Audio-column operators: opaque `bytes` + typed metadata, like images.

The default decoder handles REAL RIFF/WAVE PCM (audio/wav.py — 8/16-bit,
any channel count, mono downmix); bytes without the RIFF magic fall back
to the deterministic stub so legacy fixtures keep decoding. A production
deployment injects a soundfile/ffmpeg-backed decoder
`(bytes) -> (sample_rate, float32 mono ndarray)` for compressed
containers. Everything Spark-side — Arrow batching (rowmap.map_rows),
column pruning, output schema — is real and tested. Undecodable rows
are quarantined to NULL features / fingerprints, never a failed task.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from .rowmap import map_rows

AUDIO_FEATURE_SCHEMA = (
    "audio_id string, sample_rate int, n_samples long, duration_s double, "
    "rms double, zero_crossing_rate double, peak double"
)


def _default_audio_decoder(data: bytes):
    """Real WAV when the container says so; deterministic stub otherwise."""
    if data[:4] == b"RIFF":
        from ..audio.wav import decode_wav

        return decode_wav(data)
    return _fake_audio_decoder(data)


def _fake_audio_decoder(data: bytes):
    """Deterministic pseudo-PCM derived from the byte content."""
    digest = hashlib.blake2b(data, digest_size=8).digest()
    rng = np.random.default_rng(int.from_bytes(digest, "little") % (2**63))
    sr = 16_000
    n = max(1, len(data)) * 4  # 4 "samples" per input byte
    pcm = rng.standard_normal(n).astype(np.float32) * 0.1
    return sr, pcm


def audio_features(
    df: DataFrame,
    bytes_col: str = "bytes",
    id_col: str = "image_id",
    decoder=None,
) -> DataFrame:
    """Per-row acoustic features: duration, RMS, zero-crossing rate, peak.
    Undecodable rows get NULL features."""
    decode = decoder or _default_audio_decoder

    def _feat(audio_id, data):
        try:
            sr, pcm = decode(bytes(data))
        except (ValueError, NotImplementedError):
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

    return map_rows(df, [id_col, bytes_col], AUDIO_FEATURE_SCHEMA, _feat)


def audio_fingerprints(
    df: DataFrame, id_col: str = "audio_id", bytes_col: str = "bytes"
) -> DataFrame:
    """(id, fp64): 64-bit Haitsma-Kalker fingerprint per clip
    (audio/fingerprint.py) — decode + fingerprint in ONE Arrow pass,
    bytes never shuffle. Feeds dedup.hamming_near_pairs (chunks=8 for
    exact recall to hamming<=7), extending near-dup detection to the
    audio modality with the same banded operator text simhash and image
    pHash use. Undecodable rows get a NULL fingerprint, which drops out
    of the pairing."""
    from ..audio.fingerprint import audio_fp64

    def _fp(audio_id, data):
        try:
            sr, samples = _default_audio_decoder(bytes(data))
            fp = audio_fp64(samples, sr)
        except (ValueError, NotImplementedError):
            fp = None
        yield audio_id, fp

    return map_rows(
        df, [id_col, bytes_col], "audio_id string, fp64 long", _fp
    )
