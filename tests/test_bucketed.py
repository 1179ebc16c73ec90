"""Bucketed co-located join: the plan must contain no Exchange."""

from pyspark.sql import functions as F

from pii_filter_spark.sources.bucketed import bucketed_join, write_bucketed
from tests.plans import Plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # tables land in the session's default warehouse dir; dropped in finally
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    write_bucketed(orders, "b_orders", ["o_custkey"], 8, sort_cols=["o_custkey"])
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer", ["o_custkey"], 8, sort_cols=["o_custkey"],
    )
    try:
        # disable broadcast so the small test tables take the SMJ path a
        # large table would
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_customer", ["o_custkey"])
        plan = Plan(joined)
        assert plan.has("SortMergeJoin"), plan.text
        assert not plan.has("Exchange"), plan.text

        # correctness: same result as the plain join
        plain = orders.join(
            customer.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey"
        )
        assert joined.count() == plain.count()

        # contrast: joining a bucketed with an UNbucketed side shuffles
        unbucketed = spark.read.parquet("/root/testdata/sf0.001/customer.parquet") \
            .withColumnRenamed("c_custkey", "o_custkey")
        mixed = spark.table("b_orders").join(unbucketed, "o_custkey")
        assert Plan(mixed).has("Exchange")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
