"""Hash-stable train/val/test split assignment."""

import hashlib

from pii_filter_spark.operators.splits import assign_splits


def _twin_bucket(i, denom=10000):
    return int(hashlib.md5(str(i).encode()).hexdigest()[:7], 16) % denom


def test_split_is_pure_function_of_id(spark):
    df = spark.range(0, 2000).toDF("doc_id")
    out = {r["doc_id"]: (r["split_bucket"], r["split"])
           for r in assign_splits(df).collect()}
    for i in range(2000):
        b = _twin_bucket(i)
        want = "train" if b < 9800 else "val" if b < 9900 else "test"
        assert out[i] == (b, want)
    # repartitioning cannot change membership
    out2 = {r["doc_id"]: r["split"]
            for r in assign_splits(df.repartition(7)).collect()}
    assert out2 == {k: v[1] for k, v in out.items()}


def test_split_proportions_roughly_hold(spark):
    df = spark.range(0, 20000).toDF("doc_id")
    counts = {r["split"]: r["count"] for r in
              assign_splits(df).groupBy("split").count().collect()}
    assert 0.97 < counts["train"] / 20000 < 0.99
    assert counts["val"] > 0 and counts["test"] > 0
