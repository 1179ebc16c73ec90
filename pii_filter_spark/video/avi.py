"""RIFF/AVI Motion-JPEG codec — real video bytes, pure Python/numpy.

The one video codec of the video stages (operators/image_stage.py). AVI
is the RIFF container (Microsoft spec) and MJPEG stores each frame as a
baseline JPEG — which this repo already encodes and decodes for real —
so a minimal single-stream MJPEG AVI is fully implementable: these bytes
open in standard players (ffplay/VLC decode MJPEG AVI natively), and any
MJPEG AVI with '00dc'/'00db' frame chunks decodes here. Anything else,
non-RIFF bytes included, raises ValueError.

Writer emits: RIFF('AVI ') → LIST hdrl (avih + LIST strl (strh 'vids'/
'MJPG' + strf BITMAPINFOHEADER)) → LIST movi ('00dc' JPEG frames,
word-aligned) → idx1. Reader walks chunks, takes fps = rate/scale from
strh, and decodes every '00dc'/'00db' payload with the baseline JPEG
decoder. Deterministic end to end; shared by the Spark stage and the
fixture oracle.
"""

from __future__ import annotations

import math
import struct
from typing import Iterator, List, Tuple

import numpy as np

from ..images.jpeg_codec import decode_jpeg, encode_jpeg

FPS = 10


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return cid + struct.pack("<I", len(body)) + body + pad


def _list(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


def encode_avi_mjpeg(frames: List[np.ndarray], quality: int = 90) -> bytes:
    """RGB uint8 frames (equal dims) -> single-stream MJPEG AVI at FPS."""
    if not frames:
        raise ValueError("need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(f, quality=quality) for f in frames]
    max_sz = max(len(j) for j in jpegs)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // FPS,      # microseconds per frame
        max_sz * FPS,          # max bytes per second
        0,                     # padding granularity
        0x10,                  # AVIF_HASINDEX
        len(jpegs), 0, 1, max_sz, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, FPS,                # scale, rate -> fps = rate/scale
        0, len(jpegs), max_sz, 0xFFFFFFFF & (2**32 - 1), 0,
        0, 0, w, h,            # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = b"".join(_chunk(b"00dc", j) for j in jpegs)
    movi = _list(b"movi", movi_body)
    # idx1: offsets are relative to the start of the 'movi' kind fourcc
    idx_entries = []
    off = 4
    for j in jpegs:
        idx_entries.append(struct.pack("<4sII I", b"00dc", 0x10, off, len(j)))
        off += 8 + len(j) + (len(j) & 1)
    idx1 = _chunk(b"idx1", b"".join(idx_entries))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_mjpeg(data: bytes) -> Tuple[float, List[np.ndarray]]:
    """MJPEG AVI bytes -> (fps, frames as RGB uint8 arrays). Malformed
    bytes (truncated chunks, corrupt frames, LIST nesting deeper than the
    recursive chunk walk) raise ValueError."""
    try:
        return _decode_avi_mjpeg(data)
    except (struct.error, RecursionError) as exc:
        raise ValueError(f"malformed AVI: {exc!r}") from exc


def _decode_avi_mjpeg(data: bytes) -> Tuple[float, List[np.ndarray]]:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")
    fps = 0.0
    frames: List[np.ndarray] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        nonlocal fps
        while pos + 8 <= end:
            cid = buf[pos:pos + 4]
            size = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
            body_start = pos + 8
            if cid == b"LIST":
                walk(buf, body_start + 4, body_start + size)
            elif cid == b"strh":
                body = buf[body_start:body_start + size]
                if body[:4] == b"vids":
                    scale, rate = struct.unpack("<II", body[20:28])
                    if scale:
                        fps = rate / scale
            elif cid in (b"00dc", b"00db"):
                payload = buf[body_start:body_start + size]
                if payload:  # empty chunks are legal (dropped frames)
                    frames.append(decode_jpeg(payload))
            pos = body_start + size + (size & 1)

    walk(data, 12, len(data))
    if not frames:
        raise ValueError("AVI contains no MJPEG frames")
    return fps, frames


def synth_clip(idx: int) -> List[np.ndarray]:
    """Deterministic per-id test clip: a drifting two-gradient pattern,
    3-6 frames of 24-40 px. Pure function shared by q_video_frame_sample
    and its fixture oracle."""
    rng = np.random.default_rng((777, idx))
    n_frames = 3 + idx % 4
    w = int(rng.integers(24, 41))
    h = int(rng.integers(24, 41))
    gx = np.linspace(0, 255, w)
    gy = np.linspace(0, 255, h)
    frames = []
    for f in range(n_frames):
        phase = 2 * math.pi * f / max(n_frames, 1)
        r = np.add.outer(gy, gx * abs(math.cos(phase))) / 2
        g = np.add.outer(gy * abs(math.sin(phase)), gx) / 2
        b = np.full((h, w), 32.0 + 8.0 * f)
        # per-clip STATIC texture (outside the frame loop would be
        # cleaner, but the rng draw order is frozen by existing
        # fixtures) — pHash needs AC energy: on pure gradients the 8x8
        # DCT band sits at the median and every bit is a coin flip,
        # which made re-encoded copies indistinguishable from unrelated
        # clips (measured: copies 14-22 bits vs cross min 20).
        tex = np.random.default_rng((778, idx)).normal(0, 28.0, (h, w, 1))
        px = (
            np.stack([r, g, b], axis=-1)
            + tex
            + rng.normal(0, 2.0, (h, w, 3))
        )
        frames.append(np.clip(px, 0, 255).astype(np.uint8))
    return frames


def planted_clips(idx: int) -> List[Tuple[str, bytes]]:
    """[(video_id, MJPEG AVI bytes)]: synth clip idx at quality 90, plus a
    quality-70 re-encode of every 4th clip — the planted near-dup of
    q_video_near_dup. Pure function shared by the query's input builder
    and its fixture oracle."""
    frames = synth_clip(idx)
    out = [(f"vid_{idx:06d}", encode_avi_mjpeg(frames, quality=90))]
    if idx % 4 == 0:
        out.append(
            (f"vid_{idx:06d}_re", encode_avi_mjpeg(frames, quality=70))
        )
    return out
