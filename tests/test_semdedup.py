"""Unit tests for SemDeDup (operators/semdedup.py): planted semantic
duplicates drop, the smallest id survives, and decisions are
partitioning-invariant."""

import numpy as np

from pii_filter_spark.operators.semdedup import semdedup
from pii_filter_spark.operators.similarity import train_ivf_centroids


def _planted(spark, n=60, dim=16):
    rng = np.random.default_rng(5)
    rows = []
    for i in range(n):
        v = rng.normal(size=dim)
        v = (v / np.linalg.norm(v)).tolist()
        rows.append((i, [float(x) for x in v]))
    # ids 1000+i: near-copies of i for i in 0..9 (tiny perturbation)
    for i in range(10):
        v = list(rows[i][1])
        v[0] += 1e-4
        rows.append((1000 + i, v))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_planted_duplicates_drop_min_id_survives(spark):
    df = _planted(spark)
    cents = train_ivf_centroids(df)
    out = {r["vec_id"]: r for r in semdedup(df, cents).collect()}
    assert len(out) == 70
    for i in range(10):
        # the copy pair (i, 1000+i) is near-identical: original kept
        assert out[i]["keep"] is True
        assert out[1000 + i]["keep"] is False
        # both landed in the same cluster (they are ~the same vector)
        assert out[i]["ivf_cluster"] == out[1000 + i]["ivf_cluster"]
    # non-duplicated rows all keep
    assert all(out[i]["keep"] for i in range(10, 60))


def test_partitioning_invariant(spark):
    df = _planted(spark)
    cents = train_ivf_centroids(df)
    a = sorted(map(tuple, semdedup(df, cents).collect()))
    b = sorted(
        map(tuple, semdedup(df.repartition(7), cents).collect())
    )
    assert a == b
