"""PNG metadata extraction / PII scrub / strip (pure functions).

Image files carry PII outside the pixels: tEXt/zTXt/iTXt keyword-value
pairs (Author, Copyright, XMP packets), eXIf blobs (camera serials, GPS
coordinates) and tIME stamps. A caption-scrub pipeline that forwards
the original bytes therefore leaks. These helpers walk the PNG chunk
grammar (written from the public PNG spec, RFC 2083 / ISO 15948 —
the reference pipeline has no image-side counterpart; its text scrub
semantics at /root/reference/src/core/pii_detector.py are reused via
`core.detect` on the EXTRACTED text):

- `extract_text_metadata`  -> [(keyword, text)] from tEXt/zTXt/iTXt,
  printable-ASCII runs from eXIf, formatted tIME.
- `strip_ancillary`        -> PNG with only pixel-bearing chunks kept
  (IHDR, PLTE, tRNS, IDAT, IEND); decoded pixels are bit-identical.
- `add_text_chunk`         -> test/fixture injection helper.

All are bytes -> bytes/py-objects, safe inside Arrow-batched UDFs.
"""

from __future__ import annotations

import string
import struct
import zlib
from typing import Iterator, List, Tuple

from .png_codec import PNG_SIGNATURE

# Chunks that determine decoded pixel values. Everything else (text,
# EXIF, time, gamma/ICC rendering hints) is dropped by the scrub.
_PIXEL_CHUNKS = frozenset((b"IHDR", b"PLTE", b"tRNS", b"IDAT", b"IEND"))
_PRINTABLE = set(string.printable) - set("\x0b\x0c")


def is_png(data: bytes) -> bool:
    return data.startswith(PNG_SIGNATURE)


def iter_chunks(data: bytes) -> Iterator[Tuple[bytes, bytes]]:
    """Yield (tag, payload) for each well-formed chunk; stop at IEND or
    the first structurally-truncated chunk (tolerant of trailing junk)."""
    pos = len(PNG_SIGNATURE)
    n = len(data)
    while pos + 12 <= n:
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        end = pos + 8 + length
        if end + 4 > n:
            return
        yield tag, data[pos + 8 : end]
        pos = end + 4
        if tag == b"IEND":
            return


def _latin1(b: bytes) -> str:
    return b.decode("latin-1", errors="replace")


def _ascii_runs(payload: bytes) -> List[str]:
    """Printable-ASCII runs >= 4 chars (the strings(1) heuristic),
    used for eXIf blobs where full TIFF parsing is out of scope."""
    runs, cur = [], []
    for byte in payload:
        ch = chr(byte)
        if ch in _PRINTABLE and ch not in "\r\n\t":
            cur.append(ch)
        else:
            if len(cur) >= 4:
                runs.append("".join(cur))
            cur = []
    if len(cur) >= 4:
        runs.append("".join(cur))
    return runs


def extract_text_metadata(data: bytes) -> List[Tuple[str, str]]:
    """All textual metadata fields as (keyword, text) pairs, in file
    order. Undecodable compressed payloads yield the keyword with ''."""
    out: List[Tuple[str, str]] = []
    if not is_png(data):
        return out
    for tag, payload in iter_chunks(data):
        if tag == b"tEXt":
            key, _, txt = payload.partition(b"\x00")
            out.append((_latin1(key), _latin1(txt)))
        elif tag == b"zTXt":
            key, _, rest = payload.partition(b"\x00")
            txt = ""
            if rest[:1] == b"\x00":  # compression method 0 = zlib
                try:
                    txt = _latin1(zlib.decompress(rest[1:]))
                except zlib.error:
                    pass
            out.append((_latin1(key), txt))
        elif tag == b"iTXt":
            key, _, rest = payload.partition(b"\x00")
            comp_flag = rest[:1]
            rest = rest[2:]  # skip compression flag + method
            _lang, _, rest = rest.partition(b"\x00")
            _trans, _, body = rest.partition(b"\x00")
            if comp_flag == b"\x01":
                try:
                    body = zlib.decompress(body)
                except zlib.error:
                    body = b""
            out.append((_latin1(key), body.decode("utf-8", errors="replace")))
        elif tag == b"eXIf":
            for run in _ascii_runs(payload):
                out.append(("exif", run))
        elif tag == b"tIME" and len(payload) == 7:
            y, mo, d, h, mi, s = struct.unpack(">HBBBBB", payload)
            out.append(("time", f"{y:04d}-{mo:02d}-{d:02d} {h:02d}:{mi:02d}:{s:02d}"))
    return out


def count_ancillary(data: bytes) -> int:
    """Number of non-pixel chunks (what strip_ancillary would drop)."""
    if not is_png(data):
        return 0
    return sum(1 for tag, _ in iter_chunks(data) if tag not in _PIXEL_CHUNKS)


def strip_ancillary(data: bytes) -> bytes:
    """Rebuild the PNG keeping only pixel-bearing chunks. Decoded pixels
    are bit-identical (lossless container rewrite); non-PNG input is
    returned unchanged."""
    if not is_png(data):
        return data
    parts = [PNG_SIGNATURE]
    for tag, payload in iter_chunks(data):
        if tag in _PIXEL_CHUNKS:
            parts.append(
                struct.pack(">I", len(payload))
                + tag
                + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
            )
    return b"".join(parts)


def add_text_chunk(data: bytes, keyword: str, text: str) -> bytes:
    """Insert a tEXt chunk immediately before IDAT (fixture injection)."""
    if not is_png(data):
        raise ValueError("not a PNG stream")
    payload = keyword.encode("latin-1") + b"\x00" + text.encode("latin-1")
    chunk = (
        struct.pack(">I", len(payload))
        + b"tEXt"
        + payload
        + struct.pack(">I", zlib.crc32(b"tEXt" + payload) & 0xFFFFFFFF)
    )
    # first IDAT chunk header = 4-byte length || b"IDAT"
    pos = len(PNG_SIGNATURE)
    while pos + 12 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        if data[pos + 4 : pos + 8] == b"IDAT":
            return data[:pos] + chunk + data[pos:]
        pos += 12 + length
    raise ValueError("no IDAT chunk found")
