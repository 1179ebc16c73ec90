"""Sequence packing (two-phase global prefix sum) — operators/packing.py.

The two-phase (per-group window + driver group bases) result must be
bit-identical to the naive single-window global cumsum on any input,
including sparse/clustered ids and token counts of zero.
"""

from pyspark.sql import Window
from pyspark.sql import functions as F

from pii_filter_spark.operators.packing import SEQ_LEN, pack_sequences


def _naive(df, seq_len=SEQ_LEN):
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    return (
        df.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"))
        .withColumn("tok_start", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("bin_id", F.expr(f"tok_start div {seq_len}"))
        .withColumn("bin_offset", F.col("tok_start") % F.lit(seq_len))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_matches_naive_window(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 37 % 113).alias("n_tokens"),
    )
    got = pack_sequences(df)
    assert _rows(got) == _rows(_naive(df))


def test_sparse_clustered_ids(spark):
    # ids bunched at two far-apart ranges -> groups skew but stay correct.
    df = spark.range(0, 400).select(
        F.when(F.col("id") < 200, F.col("id"))
        .otherwise(F.col("id") + 1_000_000)
        .alias("doc_id"),
        (F.col("id") % 7 * 100).alias("n_tokens"),  # includes zeros
    )
    got = pack_sequences(df)
    assert _rows(got) == _rows(_naive(df))


def test_offsets_are_contiguous(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_tokens")
    )
    out = pack_sequences(df).orderBy("doc_id").collect()
    assert out[0]["tok_start"] == 0
    for prev, cur in zip(out, out[1:]):
        assert cur["tok_start"] == prev["tok_start"] + prev["n_tokens"]
    assert out[-1]["bin_id"] == (299 * 10) // SEQ_LEN


def test_empty_and_bad_seq_len(spark):
    empty = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert pack_sequences(empty).count() == 0
