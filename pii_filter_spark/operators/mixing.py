"""Temperature-based source mixing (data-mixing sampler).

The multilingual-LM mixing recipe (XLM-R, Conneau et al. 2020; mT5, Xue
et al. 2021): given per-source corpus shares p_s, sample sources with
probability q_s ∝ p_s^(1/T) — T > 1 flattens the mixture so head
sources stop dominating and tail sources are upsampled relative to
their share. The reference pipeline has no counterpart (it is a per-row
scrubber); this is the mixture-construction step a training-data build
runs after dedup/quality, next to the quota sampler
(textstats.stratified_take, which caps ABSOLUTE counts; this one
reshapes RELATIVE proportions toward a row target).

Determinism / portability contract:
  * per-source keep rates are computed driver-side from exact counts by
    a pure function (sorted-source summation order), so the DuckDB
    oracle recomputes bit-identical rates from the same counts;
  * the per-row keep decision compares the 60-bit md5-prefix integer of
    the id (the engine-portable recipe shared with operators/sketch.py)
    against floor(rate * 2^60) — an INTEGER comparison, so no float
    crosses the engine boundary;
  * sampling is id-keyed, hence cluster-invariant, resumable, and
    stable under repartitioning.

Scale shape (100 TB): one map-side-combined groupBy over the source
column for the counts (result rows = #sources, tiny), collected to the
driver; the sample itself is a native Filter with the per-source
thresholds folded into a literal CASE chain — no join, no shuffle, no
Python, and the filter pushes down past column pruning. Expected sample
size concentrates tightly around the target (Chernoff) because each
row's draw is independent.
"""

from __future__ import annotations

import math
from typing import Dict, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_HASH_BITS = 60
_HASH_SPACE = 1 << _HASH_BITS
TEMPERATURE = 2.0  # XLM-R / mT5 flattening
TARGET_ROWS = 200  # expected sample size


def mixture_rates(counts: Dict[str, int]) -> Dict[str, Tuple[float, int]]:
    """source -> (keep_rate, integer threshold in the 60-bit hash space).

    q_s ∝ (n_s / N)^(1/T), rate_s = min(1, q_s * target / n_s) with
    T = TEMPERATURE and target = TARGET_ROWS. Sources are iterated in
    sorted order everywhere a float sum occurs.
    """
    srcs = sorted(counts)
    n_total = float(sum(counts[s] for s in srcs))
    if n_total == 0:
        return {}
    weights = {s: math.pow(counts[s] / n_total, 1.0 / TEMPERATURE) for s in srcs}
    z = 0.0
    for s in srcs:
        z += weights[s]
    out = {}
    for s in srcs:
        q = weights[s] / z
        rate = min(1.0, q * float(TARGET_ROWS) / float(counts[s]))
        out[s] = (rate, int(math.floor(rate * _HASH_SPACE)))
    return out


def hash60(col) -> "F.Column":
    """60-bit md5-prefix integer of the stringified value — identical in
    DuckDB as CAST(concat('0x', substr(md5(CAST(v AS VARCHAR)),1,15))
    AS UBIGINT)."""
    return F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("long")


def temperature_sample(df: DataFrame) -> DataFrame:
    """Rows surviving the temperature-mixed sample, with the applied
    per-source keep rate attached."""
    counts = {
        r[0]: r[1]
        for r in df.groupBy("source").count().collect()
        if r[0] is not None
    }
    rates = mixture_rates(counts)
    if not rates:
        return df.select(
            F.col("doc_id"),
            F.col("source"),
            F.lit(0.0).alias("keep_rate"),
        ).where(F.lit(False))

    thresh = None
    rate_col = None
    for s, (rate, t) in sorted(rates.items()):
        cond = F.col("source") == F.lit(s)
        thresh = F.when(cond, F.lit(t)) if thresh is None else thresh.when(cond, F.lit(t))
        rate_col = (
            F.when(cond, F.lit(rate)) if rate_col is None else rate_col.when(cond, F.lit(rate))
        )
    return (
        df.select(F.col("doc_id"), F.col("source"))
        .where(hash60(F.col("doc_id")) < thresh)
        .withColumn("keep_rate", rate_col)
    )
