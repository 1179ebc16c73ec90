"""DSIR-style importance resampling for target-domain data selection.

Implements the hashed-n-gram importance-weight recipe of Xie et al. 2023
("Data Selection for Language Models via Importance Resampling",
NeurIPS 2023): estimate token-bucket distributions for a TARGET slice
and for the RAW pool, score every raw document by the sum of per-token
log-likelihood ratios log(p_target(b)/p_raw(b)), and keep the top-k
scored documents as the domain-matched training subset.  This is the
standard "make 100 TB of crawl look like my curated target" selection
step that sits in front of the quality/PII stages in this engine
(reference scope: the curation layer around
/root/reference/src/core/text_processor.py — the reference filters;
DSIR chooses WHAT to filter at corpus scale).

Engine-portability is engineered in three places so an independent
oracle reproduces the result bit-for-bit:

* bucket assignment is a portable md5-prefix hash (same recipe as the
  KMV sketch in operators/sketch.py) — no engine-private hash;
* the per-bucket log-ratio is computed ONCE, driver-side, in pure
  Python from EXACT integer bucket counts (`ratio_table_rows`) and fed
  to the cluster as literals — no engine ever evaluates `ln()`, so a
  1-ulp libm/JVM-Math disagreement at a rounding boundary can never
  flip a quantized value (round-3 driver hash-FAIL root cause);
* the log-ratio is quantized to integer micro-nats before the
  per-document sum, so the document score is an exact integer SUM —
  independent of float summation order across engines, partitionings,
  and AQE decisions.

Scale shape (10^12 docs): explode tokens -> groupBy(bucket) with
map-side partial aggregation into a <= NUM_BUCKETS-row exact count
table (bounded collect — the mixing.mixture_rates pattern) -> pure-
Python log-ratios -> the <= NUM_BUCKETS ratio values constant-fold into
ONE literal array, and every raw document scores itself in place with a
single `aggregate` higher-order function (per-token md5 bucket ->
element_at into the literal -> exact long sum) -> TakeOrderedAndProject
for the global top-K.  The scoring side therefore has ZERO shuffles: no
exploded-token exchange keyed by doc_id (the previous shape's dominant
cost — token rows outnumber documents by the mean doc length), no join.
No global sort of the corpus, no skew risk (md5 buckets are uniform by
construction), and the only driver-side state is the count/ratio table,
capped at NUM_BUCKETS rows.  The integer micro-nat sum is
order-independent, so the HOF fold is bit-identical to the previous
groupBy sum and to the fixture oracle.  The token stream is recomputed
for the two consumers rather than cached — at 100 TB a second columnar
scan is cheaper than materializing an exploded token table.
"""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .export_prep import half_up_int

NUM_BUCKETS = 1024  # hashed token buckets
ALPHA = 0.5  # additive smoothing of the bucket distributions
K = 100  # documents selected

def _token_array() -> Column:
    """Whitespace tokens of lowercased `text` — the SAME tokenization as
    textstats.top_ngrams / contamination_flags so one DuckDB recipe
    (regexp_replace + string_split + list_filter) oracles all of them."""
    return F.filter(
        F.split(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "
        ),
        lambda w: w != "",
    )


def hashed_bucket(col: Column) -> Column:
    """Portable token -> bucket hash: first 28 bits of md5, mod NUM_BUCKETS.
    Pure-Python twin: int(md5(w.encode()).hexdigest()[:7], 16) % NUM_BUCKETS;
    DuckDB equivalent:
    CAST(concat('0x', substr(md5(w), 1, 7)) AS BIGINT) % NUM_BUCKETS."""
    return F.pmod(
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 7), 16, 10).cast("long"),
        F.lit(NUM_BUCKETS),
    )


def log_ratio_unats(ct: int, cr: int, tt: int, tr: int) -> int:
    """Smoothed log(p_target/p_raw) for one bucket, in integer micro-nats.
    Pure function of exact integer counts — the single place `ln` is ever
    evaluated; shared verbatim by the Spark plan (as literals) and the
    fixture oracle (oracle_support.dsir_selection_sql)."""
    lr = math.log((ct + ALPHA) / (tt + ALPHA * NUM_BUCKETS)) - math.log(
        (cr + ALPHA) / (tr + ALPHA * NUM_BUCKETS)
    )
    return half_up_int(lr * 1e6)


def ratio_table_rows(counts: Dict[int, Tuple[int, int]]) -> List[Tuple[int, int]]:
    """(bucket, lr_unats) rows from exact per-bucket (target, raw) counts.
    <= NUM_BUCKETS rows — broadcastable by construction."""
    tt = sum(ct for ct, _ in counts.values())
    tr = sum(cr for _, cr in counts.values())
    return [
        (b, log_ratio_unats(ct, cr, tt, tr))
        for b, (ct, cr) in sorted(counts.items())
    ]


def _bucket_counts(tokens: DataFrame) -> Dict[int, Tuple[int, int]]:
    """Exact per-bucket (target, raw) token counts for a token frame
    with columns (_b: long bucket, _tgt: boolean).  Collected driver-side
    (<= NUM_BUCKETS rows, the bounded mixing.mixture_rates pattern)."""
    return {
        int(r["_b"]): (int(r["ct"]), int(r["cr"]))
        for r in tokens.groupBy("_b")
        .agg(
            F.sum(F.when(F.col("_tgt"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(~F.col("_tgt"), 1).otherwise(0)).alias("cr"),
        )
        .collect()
    }


def dsir_select(df: DataFrame, is_target: Column) -> DataFrame:
    """Top-K raw documents by DSIR importance weight of their `text`
    against the target slice selected by `is_target`.
    Returns (doc_id, dsir_weight_unats), deterministic under the total
    order (weight desc, id asc)."""
    tok = df.select(
        is_target.alias("_tgt"),
        F.explode(_token_array()).alias("_w"),
    ).select("_tgt", hashed_bucket(F.col("_w")).alias("_b"))
    counts = _bucket_counts(tok)
    lr = dict(ratio_table_rows(counts))
    # dense bucket -> micro-nat lookup; buckets never seen in the count
    # pass cannot appear at scoring time (scoring tokens are a subset of
    # counted tokens), but get the principled (0, 0) smoothed value
    tt = sum(ct for ct, _ in counts.values())
    tr = sum(cr for _, cr in counts.values())
    empty = log_ratio_unats(0, 0, tt, tr)
    ratio_arr = F.array(
        *[F.lit(int(lr.get(b, empty))) for b in range(NUM_BUCKETS)]
    )  # all-literal CreateArray — constant-folds into ONE array literal
    scored = (
        df.where(~is_target)
        .select(F.col("doc_id"), _token_array().alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(
            "doc_id",
            F.aggregate(
                "_toks",
                F.lit(0).cast("long"),
                lambda acc, w: acc
                + F.element_at(
                    ratio_arr,
                    (hashed_bucket(w) + F.lit(1)).cast("int"),
                ),
            ).alias("dsir_weight_unats"),
        )
    )
    return scored.orderBy(
        F.desc("dsir_weight_unats"), F.asc("doc_id")
    ).limit(K)
