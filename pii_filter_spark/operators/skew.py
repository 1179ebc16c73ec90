"""Skew handling: salted two-phase aggregation for hot keys [north-rule addition].

The synthetic (and any real) phash/language distribution is heavy-tailed —
a few hot perceptual hashes (near-duplicate crops, blank images) can cover
double-digit percentages of a 10^12-row table, so any shuffle keyed on
them alone puts whole hot keys in single tasks. The salt splits each hot
key across 16 tasks; aggregations then run in two phases
(per-(key,salt) partial → per-key final), which is the classic two-level
combine. AQE's skew-join splitting covers joins; this covers the
groupBy paths AQE doesn't touch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_by_key(df: DataFrame) -> DataFrame:
    """Two-phase skew-safe count of events per `event_type`:
    groupBy(event_type, salt) partial, then groupBy(event_type).

    Returns (event_type, cnt). Spark's hash aggregate already map-side
    combines, but with a hot key every partial for that key still funnels
    into ONE reducer task; the salt splits that reducer 16 ways. The salt
    derives from `event_id` (NOT rand(), so retries/resumes land rows in
    the same bucket).
    """
    partial = (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col("event_id")), F.lit(16)))
        .groupBy("event_type", "_salt")
        .agg(F.count(F.lit(1)).alias("_partial_cnt"))
    )
    return partial.groupBy("event_type").agg(F.sum("_partial_cnt").alias("cnt"))
