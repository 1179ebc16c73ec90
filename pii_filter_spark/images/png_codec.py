"""Minimal spec-conformant PNG codec for 8-bit RGB images (pure numpy+zlib).

Encoder emits non-interlaced color-type-2 PNGs (filter 0 rows); decoder
handles all five standard scanline filters so externally-produced RGB8
PNGs also load. Written from the public PNG specification (RFC 2083).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """RGB uint8 array (h, w, 3) -> PNG bytes."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("expected uint8 array of shape (h, w, 3)")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # filter byte 0 prepended to each row
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    rows = raw.reshape(h, stride + 1)
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ftype = rows[y, 0]
        cur = rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ftype == 0:
            line = cur
        elif ftype == 2:  # Up
            line = (cur + prev) & 0xFF
        elif ftype in (1, 3, 4):
            line = np.zeros(stride, np.int32)
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                if ftype == 1:  # Sub
                    pred = a
                elif ftype == 3:  # Average
                    pred = (a + b) >> 1
                else:  # Paeth
                    c = prev[x - bpp] if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = line.astype(np.uint8)
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> RGB uint8 array (h, w, 3). 8-bit RGB/RGBA, no
    interlace. Malformed bytes (truncated chunks, corrupt zlib stream)
    raise ValueError."""
    try:
        return _decode_png(data)
    except (struct.error, zlib.error) as exc:
        raise ValueError(f"malformed PNG: {exc!r}") from exc


def _decode_png(data: bytes) -> np.ndarray:
    if not data.startswith(PNG_SIGNATURE):
        raise ValueError("not a PNG stream")
    pos = len(PNG_SIGNATURE)
    w = h = None
    channels = 3
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or ctype not in (2, 6) or interlace:
                raise ValueError("only 8-bit non-interlaced RGB/RGBA supported")
            channels = 3 if ctype == 2 else 4
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
    stride = w * channels
    px = _unfilter(raw, h, stride, channels).reshape(h, w, channels)
    return px[:, :, :3].copy()
