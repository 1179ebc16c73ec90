"""GPT-style contiguous sequence packing (two-phase global cumsum).

Pretraining pipelines concatenate documents in a fixed order and chunk
the token stream into fixed-length blocks (GPT-2/3, Brown et al. 2020;
T5 "pack" mode, Raffel et al. 2020 §3.1.2) — every document therefore
needs its GLOBAL exclusive token offset, from which its starting block
(`bin_id`) and in-block offset fall out arithmetically. The reference
pipeline has no counterpart (it is a per-row scrubber); this is the
step that turns a curated corpus into trainer-shaped sequences.

A global running sum is the textbook "one window, one task" trap: a
naive `SUM() OVER (ORDER BY doc_id)` gives Spark a single unpartitioned
window — one task scans 100 TB. The scalable shape is the classic
two-phase prefix sum:

  phase 1  group rows into contiguous id ranges (`grp = floor((id-min)/
           span)`), one map-side-combined groupBy — result is #groups
           rows (tiny), collected and exclusive-prefix-summed on the
           driver in sorted-group order;
  phase 2  a per-group window (partitionBy grp, orderBy id) computes the
           LOCAL exclusive cumsum; the driver-computed group base is
           folded in as a literal CASE chain — no join, no extra
           shuffle, and each window partition is a bounded id range.

Determinism: the order is the id order (cluster-invariant), sums are
exact BIGINTs, and the group span derives from exact min/max — the
DuckDB oracle can use the plain single-window SQL because integer
addition is associative, so the two-phase result is bit-identical.

Scale notes (100 TB): one shuffle (hash by grp for the window) plus one
tiny agg; group count is chosen so each window partition holds ~rows/
N_GROUPS rows. Sparse or clustered ids skew group sizes but never break
correctness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEQ_LEN = 2048  # tokens per packed block
N_GROUPS = 64  # contiguous id ranges of the two-phase prefix sum


def pack_sequences(df: DataFrame) -> DataFrame:
    """Per-document packing coordinates for fixed SEQ_LEN-token blocks.

    Returns (doc_id, n_tokens, tok_start, bin_id, bin_offset) where
    tok_start is the global exclusive token offset in id order,
    bin_id = tok_start // SEQ_LEN and bin_offset = tok_start % SEQ_LEN.
    """
    bounds = df.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        return df.sparkSession.createDataFrame(
            [],
            "doc_id long, n_tokens long, tok_start long, "
            "bin_id long, bin_offset long",
        )
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = max(1, (hi - lo + N_GROUPS) // N_GROUPS)

    grp = F.floor((F.col("doc_id") - F.lit(lo)) / F.lit(span)).alias("grp")
    base = df.select(
        F.col("doc_id"), F.col("n_tokens").cast("long").alias("n_tokens"), grp
    )

    # phase 1: per-group totals -> driver exclusive prefix (tiny).
    totals = {
        int(r["grp"]): int(r["tot"])
        for r in base.groupBy("grp")
        .agg(F.sum("n_tokens").alias("tot"))
        .collect()
    }
    offsets, running = {}, 0
    for g in sorted(totals):
        offsets[g] = running
        running += totals[g]

    grp_base = None
    for g, off in sorted(offsets.items()):
        cond = F.col("grp") == F.lit(g)
        grp_base = (
            F.when(cond, F.lit(off))
            if grp_base is None
            else grp_base.when(cond, F.lit(off))
        )

    # phase 2: bounded per-group window for the local exclusive cumsum.
    w = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + grp_base
    ).alias("tok_start")
    return (
        base.select(F.col("doc_id"), F.col("n_tokens"), start)
        # `div` is exact integral division — a double-typed `/` would
        # round above 2^53 token offsets, reachable at corpus scale.
        .withColumn("bin_id", F.expr(f"tok_start div {SEQ_LEN}"))
        .withColumn("bin_offset", F.col("tok_start") % F.lit(SEQ_LEN))
    )
