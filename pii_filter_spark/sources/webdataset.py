"""WebDataset shard export: real POSIX ustar tar, pure Python.

WebDataset (the de-facto image-training shard format — used by the
LAION/OpenCLIP training stacks) is just a tar archive per shard where
each sample is a group of adjacent files sharing a basename key:
`{key}.jpg` + `{key}.txt` (caption) + `{key}.json` (metadata). Training
readers stream shards sequentially, so the EXPORT side must produce
deterministic, byte-reproducible tars: fixed mtime/uid/gid, stable
sample order, stable json key order.

The tar codec below implements the POSIX.1-1988 ustar layout from the
published spec (512-byte header: name 100, mode 8, uid/gid 8+8,
size 12 octal, mtime 12, chksum 8 computed with the field blanked to
spaces, typeflag, magic "ustar", trailer = two zero blocks) — no
tarfile-module dependency in the data path, so the bytes are identical
on any engine and the DuckDB oracle can re-derive shard md5s exactly.
(Python's stdlib `tarfile` CAN read these archives — asserted in
tests — the custom writer exists for byte-determinism, not NIH.)

Spark shape: `assign_shards`' portable md5 shard hash keys ONE groupBy
shuffle; each shard's tar is built inside its own `applyInPandas`
group task — no driver fan-in. At 10^12 rows NUM_SHARDS would be
sized so a shard holds the conventional ~10k samples; shard sizes are
md5-uniform by construction (no skew).
"""

from __future__ import annotations

import hashlib
import io
import json
from typing import Iterable, List, Tuple

BLOCK = 512
NUM_SHARDS = 8


def _header(name: str, size: int) -> bytes:
    if len(name.encode()) > 100:
        raise ValueError(f"tar name too long: {name!r}")
    h = bytearray(BLOCK)
    h[0:100] = name.encode().ljust(100, b"\0")
    h[100:108] = b"0000644\0"          # mode
    h[108:116] = b"0000000\0"          # uid
    h[116:124] = b"0000000\0"          # gid
    h[124:136] = f"{size:011o}".encode() + b"\0"
    h[136:148] = b"00000000000\0"      # mtime pinned to 0 (determinism)
    h[148:156] = b" " * 8              # chksum blanked for the sum
    h[156:157] = b"0"                  # typeflag: regular file
    h[257:263] = b"ustar\0"
    h[263:265] = b"00"
    chksum = sum(h)
    h[148:156] = f"{chksum:06o}".encode() + b"\0 "
    return bytes(h)


def tar_bytes(entries: Iterable[Tuple[str, bytes]]) -> bytes:
    """Deterministic ustar archive of (name, data) entries, in order."""
    out = io.BytesIO()
    for name, data in entries:
        out.write(_header(name, len(data)))
        out.write(data)
        pad = (-len(data)) % BLOCK
        out.write(b"\0" * pad)
    out.write(b"\0" * (2 * BLOCK))
    return out.getvalue()


_EXT = {"jpeg": "jpg", "png": "png"}


def sample_entries(image_id: str, img: bytes, caption: str, fmt: str,
                   w: int, h: int) -> List[Tuple[str, bytes]]:
    """One WebDataset sample: {key}.{ext} + {key}.txt + {key}.json."""
    meta = json.dumps(
        {"fmt": fmt, "h": int(h), "image_id": image_id, "w": int(w)},
        sort_keys=True, separators=(",", ":"),
    ).encode()
    ext = _EXT.get(fmt, "bin")
    return [
        (f"{image_id}.{ext}", bytes(img)),
        (f"{image_id}.txt", (caption or "").encode("utf-8")),
        (f"{image_id}.json", meta),
    ]


def shard_of(image_id: str) -> int:
    """Portable md5-prefix shard hash — same recipe as assign_shards."""
    return int(hashlib.md5(str(image_id).encode()).hexdigest()[:7], 16) % NUM_SHARDS


def shard_order_key(image_id: str) -> Tuple[str, str]:
    """In-shard sample order: (md5 hex, id) — assign_shards' window order."""
    return (hashlib.md5(str(image_id).encode()).hexdigest(), str(image_id))


def build_shard_tar(rows: List[dict]) -> bytes:
    """Tar for one shard from row dicts (image_id, bytes, caption, fmt,
    w, h), sorted by the canonical in-shard order."""
    entries: List[Tuple[str, bytes]] = []
    for r in sorted(rows, key=lambda r: shard_order_key(r["image_id"])):
        entries.extend(
            sample_entries(r["image_id"], r["bytes"], r["caption"],
                           r["fmt"], r["w"], r["h"])
        )
    return tar_bytes(entries)


def write_webdataset(df):
    """(shard_id, n_samples, tar_len, tar_md5) — one applyInPandas group
    per shard of NUM_SHARDS builds its tar on the executor."""
    import pandas as pd
    from pyspark.sql import functions as F

    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("image_id").cast("string")), 1, 7),
               16, 10).cast("long"),
        F.lit(NUM_SHARDS),
    )
    keyed = df.select("image_id", "bytes", "caption", "fmt", "w", "h",
                      shard.alias("shard_id"))

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        data = build_shard_tar(rows)
        sid = int(pdf["shard_id"].iloc[0])
        return pd.DataFrame(
            [(sid, len(rows), len(data),
              hashlib.md5(data).hexdigest())],
            columns=["shard_id", "n_samples", "tar_len", "tar_md5"],
        )

    return keyed.groupBy("shard_id").applyInPandas(
        _build,
        schema="shard_id long, n_samples long, tar_len long, tar_md5 string",
    )

