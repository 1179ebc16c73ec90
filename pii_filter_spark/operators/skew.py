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

SALT_COL = "_salt"


def with_salt(df: DataFrame, id_col: str = "image_id") -> DataFrame:
    """Deterministic per-row salt in [0, 16) derived from the row id (NOT
    rand(), so retries/resumes land rows in the same bucket)."""
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(F.col(id_col)), F.lit(16)))


def salted_count_by_key(df: DataFrame, key: str, id_col: str = "image_id") -> DataFrame:
    """Two-phase skew-safe count: groupBy(key, salt) partial, then groupBy(key).

    Returns (key, cnt). Spark's hash aggregate already map-side combines,
    but with a hot key every partial for that key still funnels into ONE
    reducer task; the salt splits that reducer 16 ways.
    """
    partial = (
        with_salt(df, id_col)
        .groupBy(key, SALT_COL)
        .agg(F.count(F.lit(1)).alias("_partial_cnt"))
    )
    return partial.groupBy(key).agg(F.sum("_partial_cnt").alias("cnt"))
