"""KMV (k-minimum-values) distinct-count sketch.

The classic order-statistics cardinality estimator: hash every value to
u ∈ (0,1); the k-th smallest distinct hash u_k estimates the distinct
count as (k-1)/u_k (unbiased; relative error ≈ 1/sqrt(k-2)). Unlike
HLL implementations — whose register layouts differ between engines —
KMV over a PORTABLE hash (md5 prefix, 60 bits) is bit-reproducible in
any SQL engine, so the driver oracle recomputes it exactly in DuckDB.

Plan shape: distinct (key, hash) → per-key window top-k over the hash
order → one aggregation. The distinct and the window shuffle on the
same key, so AQE reuses the exchange; only k rows per key survive the
window. At 10^12-row scale the textbook refinement is a map-side
partial (keep k smallest per partition before the shuffle — Spark's
built-in approx_count_distinct does the equivalent with HLL); this
operator keeps the declarative form and trades that constant for exact
cross-engine reproducibility.

Groups with fewer than k distinct values report the EXACT count (every
distinct hash was observed), so small groups are error-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HASH_SPACE = float(1 << 60)  # 15 hex chars


def _unit_hash(col) -> "F.Column":
    """Portable uniform hash of a value into (0, 1): first 15 hex chars
    of md5, parsed as an integer, scaled by 2^60. Identical expression
    exists in DuckDB (CAST(concat('0x', substr(md5(v),1,15)) AS UBIGINT))."""
    return (
        F.conv(F.substring(F.md5(col.cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(_HASH_SPACE)
    )


K = 64  # minimum hash values kept per key


def kmv_distinct(df: DataFrame) -> DataFrame:
    """(event_type, n_hashes, kth_min, kmv_estimate): distinct `user_id`s
    per `event_type`.

    kmv_estimate = exact distinct count when a group has < K distinct
    values, else (K-1)/u_K.
    """
    key = "event_type"
    hashed = df.select(F.col(key), _unit_hash(F.col("user_id")).alias("_u")).distinct()
    # Two-phase top-k for hot keys: a single window per key would sort a
    # key's ENTIRE distinct-hash set in one task (billions of rows for a
    # hot key at 10^12 scale). Phase 1 keeps the k smallest per
    # (key, salt-of-hash) — 32-way spread, bounded partitions; phase 2
    # re-ranks the ≤ 32k survivors per key. _u is unique within a key
    # after the distinct, so the order is total and the two-phase result
    # is row-identical to the single window.
    salt = F.pmod(F.xxhash64(F.col("_u")), F.lit(32))
    w1 = Window.partitionBy(key, salt).orderBy("_u")
    local = hashed.withColumn("_lrn", F.row_number().over(w1)).where(
        F.col("_lrn") <= K
    )
    w = Window.partitionBy(key).orderBy("_u")
    topk = local.withColumn("_rn", F.row_number().over(w)).where(
        F.col("_rn") <= K
    )
    agg = topk.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_hashes"),
        F.max("_u").alias("kth_min"),
    )
    est = F.when(
        F.col("n_hashes") < K, F.col("n_hashes").cast("double")
    ).otherwise((K - 1) / F.col("kth_min"))
    return agg.select(
        key,
        "n_hashes",
        F.round("kth_min", 8).alias("kth_min"),
        F.round(est, 4).alias("kmv_estimate"),
    )
