"""D4 prototypicality (operators/prototypes.py): twin parity, partition
invariance of the micro-rounded score, per-cluster flag math."""

import numpy as np
import pytest

from pii_filter_spark.operators.prototypes import (
    flag_prototypes,
    prototypicality_rows,
    prototypicality_scores,
)


@pytest.fixture(scope="module")
def data():
    rng = np.random.default_rng(5)
    cents = np.stack([
        np.array([1.0, 0, 0, 0]), np.array([0, 1.0, 0, 0]),
        np.array([0, 0, 1.0, 0]),
    ])
    vecs = []
    for i in range(60):
        c = cents[i % 3]
        noise = rng.normal(0, 0.2 if i % 5 else 0.001, 4)
        vecs.append((i, [float(x) for x in (c + noise)]))
    return cents, vecs


def _collect(df):
    return sorted(
        (r["vec_id"], r["ivf_cluster"], r["proto_micro"], r["is_prototype"])
        for r in df.collect()
    )


def test_matches_pure_twin(spark, data):
    cents, vecs = data
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = _collect(flag_prototypes(prototypicality_scores(df, cents)))
    exp = sorted(prototypicality_rows(vecs, cents))
    assert got == exp


def test_partition_invariant(spark, data):
    cents, vecs = data
    base = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    a = _collect(flag_prototypes(prototypicality_scores(base.repartition(2), cents)))
    b = _collect(flag_prototypes(prototypicality_scores(base.repartition(16), cents)))
    assert a == b


def test_flags_are_the_top_scores_per_cluster(spark, data):
    cents, vecs = data
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    rows = _collect(flag_prototypes(prototypicality_scores(df, cents)))
    import math

    by_cluster = {}
    for vid, c, p, f in rows:
        by_cluster.setdefault(c, []).append((p, vid, f))
    for c, members in by_cluster.items():
        members.sort(key=lambda t: (-t[0], t[1]))
        cut = math.ceil(len(members) * 0.1)
        assert all(f for _, _, f in members[:cut])
        assert not any(f for _, _, f in members[cut:])
        # every i%5==0 vector is a near-copy of its centroid: the flagged
        # set must come from those
        for p, vid, f in members[:cut]:
            assert vid % 5 == 0


def test_zero_vector_does_not_crash(spark, data):
    cents, _ = data
    df = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rows = _collect(flag_prototypes(prototypicality_scores(df, cents)))
    assert len(rows) == 2
