"""WARC/WET record parsing — web-pipeline stage 0.

CCNet and RefinedWeb both start from Common Crawl archives: WARC
(ISO 28500 — captured HTTP responses) or WET (the same container with
`conversion` records holding extracted text). This module is a
deterministic pure-Python reader for that container, built from the
public spec only:

  * a WARC file is a sequence of records;
  * each record: a version line (`WARC/1.0`), CRLF-separated named
    headers, CRLF CRLF, `Content-Length` octets of block, CRLF CRLF;
  * `response` records wrap an HTTP response (status line + headers +
    body) — the body is the payload; `conversion` (WET) records hold
    the extracted text directly;
  * .warc.gz files are per-record gzip MEMBERS concatenated — the
    property that makes the format splittable at scale: a reader can
    start at any member boundary. zlib (stdlib) handles members.

The Spark operator (operators/warc_ingest.py) maps archive blobs to
records in ONE Arrow pass — the moral equivalent of
sc.binaryFiles→flatMap, but with the DataFrame/Arrow batch contract,
and at 10^12 scale one blob row = one (bounded) archive shard, so
per-row work is bounded and nothing shuffles. Parsing is tolerant:
malformed trailing bytes end the scan rather than raising; a truncated
record yields nothing.

The writer (`build_warc`) exists for fixtures/tests: the driver query
synthesizes archives from the documents table, parses them back, and
the DuckDB oracle checks the round trip with plain SQL — no twin
needed, because the expected rows ARE the source rows.
"""

from __future__ import annotations

import zlib
from typing import Iterator, List, Optional, Tuple

_CRLF = b"\r\n"


def _gzip_member(data: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return co.compress(data) + co.flush()


def gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the .warc.gz layout)."""
    out = []
    while data:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        try:
            out.append(d.decompress(data))
        except zlib.error:
            break  # non-gzip trailing bytes: keep what decoded cleanly
        data = d.unused_data
        if not d.eof:
            break  # truncated member: keep what decoded cleanly
    return b"".join(out)


def build_record(warc_type: str, target_uri: str, block: bytes, record_id: str) -> bytes:
    """One spec-shaped WARC record (deterministic: fixed date, fixed
    header order)."""
    headers = [
        b"WARC/1.0",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: <urn:uuid:" + record_id.encode() + b">",
        b"WARC-Date: 2024-01-01T00:00:00Z",
        b"WARC-Target-URI: " + target_uri.encode(),
        b"Content-Length: " + str(len(block)).encode(),
    ]
    return _CRLF.join(headers) + _CRLF + _CRLF + block + _CRLF + _CRLF


def build_warc(
    records: List[Tuple[str, str, bytes, str]],
    gzip_members: bool = False,
) -> bytes:
    """An archive blob from (warc_type, target_uri, block, record_id)
    tuples — per-record gzip members when gzip_members (the .warc.gz
    splittable layout)."""
    parts = [build_record(t, u, b, rid) for t, u, b, rid in records]
    if gzip_members:
        parts = [_gzip_member(p) for p in parts]
    return b"".join(parts)


def http_response_block(body: bytes) -> bytes:
    """An HTTP/1.1 text/html response block for a WARC `response` record."""
    head = (
        b"HTTP/1.1 200 OK" + _CRLF
        + b"Content-Type: text/html" + _CRLF
        + b"Content-Length: " + str(len(body)).encode() + _CRLF
        + _CRLF
    )
    return head + body


def _parse_headers(chunk: bytes) -> Optional[dict]:
    lines = chunk.split(_CRLF)
    if not lines or not lines[0].startswith(b"WARC/"):
        return None
    out = {}
    for ln in lines[1:]:
        if b":" not in ln:
            continue
        k, v = ln.split(b":", 1)
        out[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
    return out


def iter_warc_records(data: bytes) -> Iterator[Tuple[dict, bytes]]:
    """(headers, block) per record. Accepts plain or member-gzipped
    archives; stops silently at malformed/truncated tails."""
    if data[:2] == b"\x1f\x8b":
        data = gunzip_members(data)
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            return
        headers = _parse_headers(data[pos:head_end])
        if headers is None:
            return
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        block_start = head_end + 4
        block_end = block_start + length
        if block_end > n:
            return  # truncated record
        yield headers, data[block_start:block_end]
        pos = block_end
        # consume the two record-separator CRLFs (tolerate their absence)
        while data[pos : pos + 2] == _CRLF:
            pos += 2


def _http_payload(block: bytes) -> bytes:
    sep = block.find(_CRLF + _CRLF)
    return block[sep + 4 :] if sep >= 0 else block


def extract_text_records(data: bytes) -> List[Tuple[str, str, str]]:
    """(warc_type, target_uri, text) for every conversion/response
    record — the rows a curation pipeline starts from. Response bodies
    have their HTTP envelope stripped; text decodes as UTF-8 with
    replacement (crawls are never clean)."""
    out = []
    for headers, block in iter_warc_records(data):
        wtype = headers.get("warc-type", "")
        uri = headers.get("warc-target-uri", "")
        if wtype == "conversion":
            payload = block
        elif wtype == "response":
            payload = _http_payload(block)
        else:
            continue  # warcinfo/request/metadata records carry no corpus text
        out.append((wtype, uri, payload.decode("utf-8", "replace")))
    return out
