"""LAION-style aesthetic/NSFW linear probes — operators/probe_heads.py.

Pins: stub-head determinism, twin parity (the fixture-oracle
contract), partition invariance of the micro-rounded scores, the
keep-rule boundary, and that both gates actually bite on the synthetic
embeddings (non-degenerate filter).
"""

import numpy as np
import pytest

from pii_filter_spark.operators.probe_heads import (
    AES_KEEP_MICRO,
    MICRO,
    NSFW_MAX_MICRO,
    default_heads,
    probe_rows,
    probe_scores,
    stub_head,
)


def test_stub_head_deterministic_unit():
    a = stub_head("aesthetic", 64)
    b = stub_head("aesthetic", 64)
    assert np.array_equal(a, b)
    assert abs(float(np.linalg.norm(a)) - 1.0) < 1e-12
    assert not np.array_equal(a, stub_head("nsfw", 64))


def _vecs(n=40, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    return [(i, rng.normal(size=dim).astype(np.float32).tolist())
            for i in range(n)]


def test_twin_parity_and_partition_invariance(spark):
    vecs = _vecs()
    expected = probe_rows(vecs)

    df1 = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got1 = sorted(
        tuple(r) for r in probe_scores(df1).collect()
    )
    df8 = df1.repartition(8)
    got8 = sorted(
        tuple(r) for r in probe_scores(df8).collect()
    )
    assert got1 == sorted(map(tuple, expected))
    assert got1 == got8  # micro-rounding is partition-invariant


def test_keep_rule_boundary():
    # the 16-dim stub heads score 16-dim embeddings; an embedding equal
    # to the aesthetic head scores cosine 1.0 ->
    # aes = 10.0 (kept side); equal to the nsfw head -> nsfw = 1.0
    # (dropped side)
    heads = default_heads(16)
    rows = probe_rows(
        [(0, heads["aesthetic"].tolist()), (1, heads["nsfw"].tolist())]
    )
    by_id = {r[0]: r for r in rows}
    assert by_id[0][1] == 10 * MICRO
    assert by_id[0][3] == (by_id[0][2] < NSFW_MAX_MICRO)
    assert by_id[1][2] == MICRO
    assert by_id[1][3] is False


def test_filter_non_degenerate_on_testdata():
    sf = "/root/testdata/sf0.001"
    import os

    if not os.path.isdir(sf):
        pytest.skip("testdata absent")
    import duckdb

    vecs = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    rows = probe_rows(vecs)
    kept = sum(1 for r in rows if r[3])
    assert 0 < kept < len(rows)
    # each gate individually bites too
    assert any(r[1] < AES_KEEP_MICRO for r in rows)
    assert any(r[2] >= NSFW_MAX_MICRO for r in rows)
