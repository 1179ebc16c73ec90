"""Seeded image+caption inputs for the caption workloads, cached on disk.

Every row is `sources.synth.gen_row(seed, row)`: its own image, size,
format and phash. The caption is replaced by `captions_per_row` joined
`synth.make_caption` draws keyed by (seed, row), from the same default
mix, so the per-layer slice can be rebuilt without encoding images.
Encoding an image costs ~2 ms in pure Python, so the files are built in
parallel, one process per CPU, each writing its own files with pyarrow;
building a table needs no Spark session.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from typing import List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pii_filter_spark.sources import synth

FILES = 16  # equal-sized parquet files, so coalesce(k) splits evenly
LAYER_SEED = 0  # the fixed seed of the per-layer slice

SCHEMA = pa.schema([
    ("image_id", pa.string()),
    ("bytes", pa.binary()),
    ("w", pa.int32()),
    ("h", pa.int32()),
    ("fmt", pa.string()),
    ("caption", pa.string()),
    ("phash", pa.int64()),
])


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    captions_per_row: int  # synth.make_caption draws joined into one caption
    layer_rows: int  # rows of the fixed-seed slice the core layers are timed on


WORKLOADS = {
    w.name: w
    for w in (
        Workload("caption_scrub", rows=16384, captions_per_row=1, layer_rows=1024),
        # 1/8 of the rows, 8 draws per caption: the same caption bytes
        Workload("caption_scrub_long", rows=2048, captions_per_row=8, layer_rows=128),
    )
}


def captions(seed: int, start: int, n: int, per_row: int) -> List[str]:
    out = []
    for i in range(start, start + n):
        rng = np.random.default_rng((seed, i))
        out.append(" ".join(synth.make_caption(rng) for _ in range(per_row)))
    return out


def build_rows(seed: int, start: int, n: int, per_row: int) -> pa.Table:
    caps = captions(seed, start, n, per_row)
    rows = [{**synth.gen_row(seed, start + k), "caption": cap} for k, cap in enumerate(caps)]
    return pa.Table.from_pylist(rows, schema=SCHEMA)


def _write_file(path: str, seed: int, start: int, n: int, per_row: int) -> None:
    pq.write_table(build_rows(seed, start, n, per_row), path)


def ensure_input(cache_root: str, w: Workload, seed: int) -> tuple[str, float]:
    """Path of the cached (workload, seed, size) table and the seconds
    spent building it now (0.0 on a cache hit)."""
    path = os.path.join(cache_root, f"{w.name}-n{w.rows}-s{seed}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, 0.0
    t0 = time.perf_counter()
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per_file = w.rows // FILES
    with ProcessPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        done = [pool.submit(_write_file, os.path.join(tmp, f"part-{j:05d}.parquet"),
                            seed, j * per_file, per_file, w.captions_per_row)
                for j in range(FILES)]
        for f in done:
            f.result()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, time.perf_counter() - t0


def input_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))
