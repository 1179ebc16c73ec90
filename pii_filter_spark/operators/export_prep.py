"""Training-export preparation: aspect-ratio bucketing + shard assignment.

The last mile of an image+caption curation run (after quality/PII/dedup)
is exporting the surviving pairs for training. Two standard steps:

* **Aspect-ratio bucketing** (the SDXL recipe, Podell et al. 2023 §2.3;
  also NovelAI's bucketing write-up): every training batch must share
  one (bucket_w, bucket_h) so images are resized without destructive
  center-cropping — each image is assigned the bucket whose log aspect
  ratio is closest to its own.
* **Shard assignment** (WebDataset convention): images are grouped into
  fixed shards for sequential-read training IO, with a deterministic
  shard id and position so the export is reproducible byte-for-byte
  across runs and engines.

Both are engineered for cross-engine exactness (the DuckDB fixture
oracle recomputes every row through the pure-Python twin below):

* bucket choice quantizes the |Δ log-aspect| distance to integer
  micro-log-units before the argmin (same integer-quantization trick as
  operators/dsir.py), with ties broken by bucket index via struct
  ordering — no float comparison crosses an engine boundary;
* shard id is the portable md5-prefix hash of image_id (same recipe as
  the KMV sketch), and position-in-shard is a row_number over the total
  order (md5 hex, image_id).

Scale shape (10^12 images): bucketing is ONE codegen'd projection —
an array-literal argmin over ~9 bucket structs, no shuffle, no UDF,
pixels never read. Sharding is ONE hash-partitioned window keyed by the
md5-uniform shard id — perfectly balanced by construction, no skew, no
global sort (position is per-shard, which is how WebDataset readers
consume it anyway).
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# SDXL-style multi-aspect bucket list (w, h): aspects 0.25 .. 4.0.
# Only the RATIO drives assignment, so the list works at any resolution.
DEFAULT_BUCKETS: tuple = (
    (512, 2048), (576, 1664), (704, 1408), (832, 1216), (1024, 1024),
    (1216, 832), (1408, 704), (1664, 576), (2048, 512),
)


def half_up_int(x: float) -> int:
    """Twin of F.round(double): BigDecimal shortest-repr HALF_UP — the
    builtin round() is half-to-even and would diverge on exact .5
    boundaries. Shared with operators/dsir.py."""
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _log_aspect_micro(w: float, h: float) -> int:
    return half_up_int(1e6 * math.log(w / h))


def assign_aspect_buckets(df: DataFrame) -> DataFrame:
    """Adds (bucket_idx, bucket_w, bucket_h): the DEFAULT_BUCKETS entry
    minimizing |log(w/h) - log(bw/bh)| in integer micro-log-units, ties
    to the lowest index. Pure Catalyst: array-literal argmin, no shuffle."""
    la = F.round(F.log(F.col("w").cast("double") / F.col("h")) * 1e6).cast("long")
    cand = F.array(
        *[
            F.struct(
                F.abs(la - F.lit(_log_aspect_micro(bw, bh))).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, (bw, bh) in enumerate(DEFAULT_BUCKETS)
        ]
    )
    idx = F.array_min(cand)["i"]
    bw = F.element_at(F.array(*[F.lit(b[0]) for b in DEFAULT_BUCKETS]), idx + 1)
    bh = F.element_at(F.array(*[F.lit(b[1]) for b in DEFAULT_BUCKETS]), idx + 1)
    return df.withColumns(
        {"bucket_idx": idx, "bucket_w": bw, "bucket_h": bh}
    )


NUM_SHARDS = 8


def assign_shards(df: DataFrame) -> DataFrame:
    """Adds (shard_id, pos_in_shard): portable md5-prefix shard hash of
    `image_id` and a 1-based position under the total order (md5 hex,
    image_id). One window shuffle over a uniform key; no global sort."""
    h = F.md5(F.col("image_id").cast("binary"))
    shard = F.pmod(
        F.conv(F.substring(h, 1, 7), 16, 10).cast("long"), F.lit(NUM_SHARDS)
    )
    out = df.withColumns({"shard_id": shard, "_h": h})
    w = Window.partitionBy("shard_id").orderBy("_h", "image_id")
    return out.withColumn("pos_in_shard", F.row_number().over(w)).drop("_h")


def export_prep(df: DataFrame) -> DataFrame:
    """Bucketing + sharding over (image_id, w, h): the export manifest."""
    return assign_shards(assign_aspect_buckets(df)).select(
        "image_id", "w", "h", "bucket_idx", "bucket_w", "bucket_h",
        "shard_id", "pos_in_shard",
    )


def export_prep_rows(rows):
    """Pure-Python twin of export_prep for the fixture oracle: same
    quantized argmin, same md5 shard hash, same (md5, id) ordering.
    `rows` is an iterable of dicts with image_id/w/h."""
    staged = []
    for r in rows:
        la = half_up_int(1e6 * math.log(r["w"] / r["h"]))
        d_i = min(
            (abs(la - _log_aspect_micro(bw, bh)), i)
            for i, (bw, bh) in enumerate(DEFAULT_BUCKETS)
        )
        i = d_i[1]
        hx = hashlib.md5(r["image_id"].encode()).hexdigest()
        staged.append(
            (
                r["image_id"], r["w"], r["h"], i,
                DEFAULT_BUCKETS[i][0], DEFAULT_BUCKETS[i][1],
                int(hx[:7], 16) % NUM_SHARDS, hx,
            )
        )
    out = []
    by_shard: dict = {}
    for row in staged:
        by_shard.setdefault(row[6], []).append(row)
    for shard, members in by_shard.items():
        members.sort(key=lambda r: (r[7], r[0]))
        for pos, row in enumerate(members, start=1):
            out.append(row[:7] + (pos,))
    return out
