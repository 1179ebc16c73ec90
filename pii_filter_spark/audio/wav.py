"""RIFF/WAVE PCM codec — real audio bytes, pure stdlib+numpy.

WAVE PCM is a trivial public container (Microsoft/IBM RIFF spec, 1991),
so the audio decode is real: these bytes open in any audio player, and
any PCM WAV (8/16-bit, any channel count — downmixed to mono) decodes
here. Anything else, non-RIFF bytes included, raises ValueError, which
the stages in operators/audio_stage.py quarantine.

Everything is deterministic integer/float math shared verbatim by the
Spark stage and the fixture oracle.
"""

from __future__ import annotations

import math
import struct
from typing import List, Tuple

import numpy as np


SAMPLE_RATE = 16_000


def encode_wav(pcm: np.ndarray) -> bytes:
    """float array in [-1, 1] (mono) -> 16-bit PCM WAVE bytes at SAMPLE_RATE."""
    x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
    ints = np.round(x * 32767.0).astype("<i2")
    data = ints.tobytes()
    fmt = struct.pack(
        "<HHIIHH",
        1,                 # PCM
        1,                 # mono
        SAMPLE_RATE,
        SAMPLE_RATE * 2,   # byte rate
        2,                 # block align
        16,                # bits per sample
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> Tuple[int, np.ndarray]:
    """PCM WAVE bytes -> (sample_rate, float32 mono in [-1, 1]).

    Supports 8-bit unsigned and 16-bit signed PCM, any channel count
    (channels are mean-downmixed). Raises ValueError on anything else,
    truncated chunks included.
    """
    try:
        return _decode_wav(data)
    except struct.error as exc:
        raise ValueError(f"malformed WAVE: {exc!r}") from exc


def _decode_wav(data: bytes) -> Tuple[int, np.ndarray]:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos = 12
    sr = channels = bits = None
    pcm = None
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        body = data[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            tag, channels, sr, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if tag != 1:
                raise ValueError(f"non-PCM WAVE (format tag {tag})")
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if sr is None or pcm is None:
        raise ValueError("WAVE missing fmt/data chunk")
    if not sr:
        raise ValueError("WAVE sample rate 0")
    if bits == 16:
        x = np.frombuffer(pcm, dtype="<i2").astype(np.float32) / 32767.0
    elif bits == 8:
        x = (np.frombuffer(pcm, dtype=np.uint8).astype(np.float32) - 128.0) / 127.0
    else:
        raise ValueError(f"unsupported PCM width {bits}")
    if channels and channels > 1:
        n = (len(x) // channels) * channels
        x = x[:n].reshape(-1, channels).mean(axis=1)
    return int(sr), x


def synth_tone(idx: int) -> np.ndarray:
    """Deterministic per-id test signal: two-tone + seeded noise,
    0.05–0.3 s — enough structure for RMS/ZCR features to differ
    per row. Pure function shared by the query and its oracle."""
    rng = np.random.default_rng((1234, idx))
    n = int(SAMPLE_RATE * (0.05 + 0.25 * float(rng.random())))
    t = np.arange(n, dtype=np.float64) / SAMPLE_RATE
    f1 = 110.0 * (1 + idx % 17)
    f2 = 60.0 * (1 + idx % 29)
    x = (
        0.5 * np.sin(2 * math.pi * f1 * t)
        + 0.3 * np.sin(2 * math.pi * f2 * t)
        + 0.05 * rng.standard_normal(n)
    )
    return np.clip(x, -1.0, 1.0)


def planted_tones(idx: int) -> List[Tuple[str, bytes]]:
    """[(audio_id, WAV bytes)]: synth tone idx, plus a noisy gain-scaled
    re-encode of every 5th tone — the planted near-dup of
    q_audio_near_pairs. Pure function shared by the query's input
    builder and its fixture oracle."""
    x = synth_tone(idx)
    out = [(f"aud_{idx:06d}", encode_wav(x))]
    if idx % 5 == 0:
        rng = np.random.default_rng((77, idx))
        noisy = np.clip(
            0.95 * x + 0.01 * rng.standard_normal(len(x)), -1.0, 1.0
        )
        out.append((f"aud_{idx:06d}_re", encode_wav(noisy)))
    return out
