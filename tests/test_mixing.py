"""Unit tests for temperature-based source mixing (operators/mixing.py):
the rate algebra (T=1 proportional, T->inf uniform, cap at 1) and the
hash-keyed sample's determinism and concentration."""

import math

from pii_filter_spark.operators import mixing
from pii_filter_spark.operators.mixing import (
    TARGET_ROWS,
    hash60,
    mixture_rates,
    temperature_sample,
)

COUNTS = {"head": 8000, "mid": 1500, "tail": 500}


def test_t1_is_proportional(monkeypatch):
    monkeypatch.setattr(mixing, "TEMPERATURE", 1.0)
    rates = mixture_rates(COUNTS)
    # q_s == p_s, so every source keeps the same fraction target/N
    for s, (rate, _) in rates.items():
        assert math.isclose(rate, TARGET_ROWS / 10000)


def test_high_t_equalizes_expected_rows(monkeypatch):
    monkeypatch.setattr(mixing, "TEMPERATURE", 1e9)
    rates = mixture_rates(COUNTS)
    expected = {s: rates[s][0] * COUNTS[s] for s in COUNTS}
    for v in expected.values():
        assert math.isclose(v, TARGET_ROWS / 3, rel_tol=1e-6)


def test_rate_caps_at_one():
    # tiny tail source upsampled past its size: rate clamps to 1 (no
    # row duplication — this operator only downsamples)
    rates = mixture_rates({"a": 10000, "b": 1})
    assert rates["b"][0] == 1.0
    assert rates["b"][1] == 1 << 60


def test_temperature_flattens_between_extremes(monkeypatch):
    r2 = mixture_rates(COUNTS)
    monkeypatch.setattr(mixing, "TEMPERATURE", 1.0)
    r1 = mixture_rates(COUNTS)
    # T=2 shifts mass from head to tail
    assert r2["tail"][0] > r1["tail"][0]
    assert r2["head"][0] < r1["head"][0]


def test_invalid_temperature_and_empty():
    assert mixture_rates({}) == {}


def test_sample_concentration_and_determinism(spark):
    rows = [(i, "head" if i % 10 else "tail") for i in range(5000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out1 = temperature_sample(df)
    got1 = sorted(r["doc_id"] for r in out1.collect())
    got2 = sorted(
        r["doc_id"]
        for r in temperature_sample(df.repartition(7)).collect()
    )
    assert got1 == got2  # id-keyed: partitioning-invariant
    n = len(got1)
    # Chernoff concentration around the target
    assert 0.85 * TARGET_ROWS <= n <= 1.15 * TARGET_ROWS
    # tail source (10% of rows) upsampled relative to share under T=2
    by_src = {}
    for r in out1.collect():
        by_src[r["source"]] = by_src.get(r["source"], 0) + 1
    assert by_src["tail"] / n > 0.1


def test_hash60_matches_duckdb(spark):
    import duckdb

    ids = [(i,) for i in range(50)]
    df = spark.createDataFrame(ids, ["doc_id"])
    got = {r["doc_id"]: r["h"] for r in
           df.select("doc_id", hash60(df.doc_id).alias("h")).collect()}
    want = dict(duckdb.sql(
        "SELECT i, CAST(CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)),"
        " 1, 15)) AS UBIGINT) AS BIGINT) FROM range(50) t(i)"
    ).fetchall())
    assert got == want
