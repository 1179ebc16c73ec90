"""Deterministic broadcast Bloom filter — incremental-crawl dedup.

Web-corpus pipelines rarely dedup one snapshot in isolation: each new
crawl is deduped AGAINST EVERYTHING ALREADY KEPT (CCNet processes dumps
incrementally; RefinedWeb dedups across snapshots). Carrying the full
seen-set as a join side costs a shuffle per snapshot; the standard
primitive is a Bloom filter over the seen digests, broadcast to every
executor — membership is a local bit test, false-positive rate chosen
by sizing, false negatives impossible (no kept duplicate is ever
missed; a small FP fraction of NEW docs is dropped, the cheap error
direction for training data).

Spark's built-in `DataFrameStatFunctions.bloomFilter` is JVM-private
and version-dependent; this one is deterministic and engine-portable
(k md5-derived hash functions over a power-of-two bit array), so the
DuckDB fixture oracle can re-derive the EXACT same bits — membership
results are bit-for-bit reproducible, not just statistically similar.

Scale shape: the build is one mapInPandas emitting per-partition OR'd
bitmaps (m/8 bytes each, ~16 KB at m=2^17) reduced on the driver — no
digest ever shuffles; apply is one Arrow pass against the broadcast
bitmap with zero shuffles.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .rowmap import map_rows

DEFAULT_M_BITS = 1 << 17  # 16 KB; FP ~0.1% at ~9k entries with k=7
DEFAULT_K = 7


def _digest_positions(digest: str) -> List[int]:
    """k bit positions via the Kirsch-Mitzenmacher double-hash trick
    over the md5 digest (h1 + i*h2 mod m) — deterministic everywhere."""
    d = hashlib.md5(digest.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd -> full cycle on 2^n
    return [(h1 + i * h2) % DEFAULT_M_BITS for i in range(DEFAULT_K)]


def _normalize(text: str) -> str:
    return " ".join((text or "").lower().split())


def text_digest(text: str) -> str:
    """Same normalized-md5 digest dedup_exact keys on."""
    return hashlib.md5(_normalize(text).encode("utf-8")).hexdigest()


def build_bloom(df: DataFrame) -> bytes:
    """Bloom bitmap (DEFAULT_M_BITS/8 bytes) over the normalized digests
    of the `text` column.

    Distributed build: each partition ORs its own bitmap, the driver ORs
    the partials (one small array per partition; digests never move).
    """

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(DEFAULT_M_BITS // 8, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            for t in pdf["text"]:
                any_rows = True
                digest = text_digest(t if isinstance(t, str) else "")
                for pos in _digest_positions(digest):
                    bits[pos >> 3] |= 1 << (pos & 7)
        if any_rows:
            yield pd.DataFrame({"bitmap": [bits.tobytes()]})

    partials = (
        df.select("text").mapInPandas(_partial, schema="bitmap binary")
    ).collect()
    out = np.zeros(DEFAULT_M_BITS // 8, dtype=np.uint8)
    for r in partials:
        out |= np.frombuffer(r["bitmap"], dtype=np.uint8)
    return out.tobytes()


def seen_flags(df: DataFrame, bloom: bytes) -> DataFrame:
    """(doc_id, seen) — True iff the digest of `text` hits every Bloom
    position (possibly seen: exact for members, FP-rate for non-members)."""
    sc = df.sparkSession.sparkContext
    b = sc.broadcast(bloom)

    def _flag(doc_id, t):
        bits = b.value
        yield doc_id, all(
            bits[p >> 3] & (1 << (p & 7))
            for p in _digest_positions(text_digest(t if isinstance(t, str) else ""))
        )

    return map_rows(df, ["doc_id", "text"], "doc_id long, seen boolean", _flag)


# ---------------------------------------------------------------------------
# pure-Python twin (fixture oracle)
# ---------------------------------------------------------------------------


def bloom_rows(seen_texts: List[str], probe_rows: List) -> List:
    """Twin of build_bloom + seen_flags: same digests, same positions."""
    bits = bytearray(DEFAULT_M_BITS // 8)
    for t in seen_texts:
        for p in _digest_positions(text_digest(t or "")):
            bits[p >> 3] |= 1 << (p & 7)
    out = []
    for doc_id, t in probe_rows:
        hit = all(
            bits[p >> 3] & (1 << (p & 7))
            for p in _digest_positions(text_digest(t or ""))
        )
        out.append((doc_id, bool(hit)))
    return out
