"""KMV distinct-count sketch: accuracy, exact-below-k, determinism."""

import pytest
from pyspark.sql import functions as F


def test_kmv_exact_below_k(spark):
    from pii_filter_spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame(
        [("a", i % 10) for i in range(200)], "event_type string, user_id long"
    )
    (row,) = kmv_distinct(df).collect()
    # 10 distinct values < K  ->  exact count, zero error
    assert row.n_hashes == 10
    assert row.kmv_estimate == 10.0


def test_kmv_estimator_accuracy(spark):
    from pii_filter_spark.operators.sketch import K, kmv_distinct

    n = 5000
    df = spark.createDataFrame(
        [("a", i) for i in range(n)] * 2, "event_type string, user_id long"
    )
    (row,) = kmv_distinct(df).collect()
    assert row.n_hashes == K
    # relative error ~ 1/sqrt(K-2) ≈ 12.7%; allow 2 sigma
    assert abs(row.kmv_estimate - n) / n < 0.25, row.kmv_estimate


def test_kmv_deterministic_across_layouts(spark):
    from pii_filter_spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame(
        [("g%d" % (i % 3), i * 7) for i in range(900)], "event_type string, user_id long"
    )
    a = {tuple(r) for r in kmv_distinct(df).collect()}
    b = {tuple(r) for r in kmv_distinct(df.repartition(13)).collect()}
    assert a == b
