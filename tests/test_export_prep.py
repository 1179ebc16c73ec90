"""Export prep (aspect bucketing + sharding): semantics, twin parity,
plan shape. Oracle parity at the driver contract level is covered by
test_queries.py via the export_prep entry."""

from pyspark.sql import functions as F

from pii_filter_spark.operators.export_prep import (
    DEFAULT_BUCKETS,
    NUM_SHARDS,
    assign_aspect_buckets,
    assign_shards,
    export_prep,
    export_prep_rows,
)
from tests.plans import Plan


def test_square_and_extreme_aspects_bucket_correctly(spark):
    rows = [
        ("a", 100, 100),   # square -> (1024, 1024)
        ("b", 100, 400),   # 0.25 -> (512, 2048)
        ("c", 400, 100),   # 4.0 -> (2048, 512)
        ("d", 120, 100),   # 1.2 -> nearest of 1.0 / 1.462 is 1.216? no:
                           # |ln1.2-ln1.0|=0.182 < |ln1.2-ln1.462|=0.197
    ]
    df = spark.createDataFrame(rows, ["image_id", "w", "h"])
    out = {
        r.image_id: (r.bucket_w, r.bucket_h)
        for r in assign_aspect_buckets(df).collect()
    }
    assert out["a"] == (1024, 1024)
    assert out["b"] == (512, 2048)
    assert out["c"] == (2048, 512)
    assert out["d"] == (1024, 1024)


def test_shard_positions_are_dense_and_deterministic(spark):
    df = spark.createDataFrame(
        [(f"img{i}", 10 + i, 10) for i in range(50)], ["image_id", "w", "h"]
    )
    out = assign_shards(df).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(r.pos_in_shard)
    assert set(by_shard) <= set(range(NUM_SHARDS))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # deterministic across executions
    again = assign_shards(df).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_spark_matches_pure_python_twin(spark):
    rows = [
        {"image_id": f"id-{i}", "w": 20 + (i * 7) % 45, "h": 20 + (i * 11) % 45}
        for i in range(80)
    ]
    df = spark.createDataFrame(
        [(r["image_id"], r["w"], r["h"]) for r in rows],
        ["image_id", "w", "h"],
    )
    got = sorted(map(tuple, export_prep(df).collect()))
    want = sorted(export_prep_rows(rows))
    assert got == want


def test_bucketing_plan_has_no_shuffle_or_udf(spark):
    df = spark.createDataFrame([("a", 30, 40)], ["image_id", "w", "h"])
    plan = Plan(assign_aspect_buckets(df))
    assert not plan.has("Exchange")
    assert not plan.has("ArrowEvalPython") and not plan.has("BatchEvalPython")


def test_default_bucket_list_covers_all_indices(spark):
    # one image per bucket aspect hits every index exactly
    rows = [
        (f"b{i}", bw, bh) for i, (bw, bh) in enumerate(DEFAULT_BUCKETS)
    ]
    df = spark.createDataFrame(rows, ["image_id", "w", "h"])
    got = {
        r.image_id: r.bucket_idx for r in assign_aspect_buckets(df).collect()
    }
    assert got == {f"b{i}": i for i in range(len(DEFAULT_BUCKETS))}
