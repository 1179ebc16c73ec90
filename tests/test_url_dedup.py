"""URL-key dedup (CCNet/RefinedWeb first stage) — operators/url_dedup.py."""

from pii_filter_spark.operators.url_dedup import normalize_url, url_dedup

import pyspark.sql.functions as F
from tests.plans import Plan


def _norm_one(spark, url: str) -> str:
    return (
        spark.range(1)
        .select(normalize_url(F.lit(url)).alias("n"))
        .first()["n"]
    )


def test_normalization_rules(spark):
    cases = {
        "HTTP://Example.COM/A/b": "example.com/a/b",
        "https://www.example.com/a/b/": "example.com/a/b",
        "https://example.com/a#frag": "example.com/a",
        "https://example.com/a?utm_source=x": "example.com/a",
        "https://example.com/a?page=2&utm_medium=em": "example.com/a?page=2",
        "https://example.com/a?utm_campaign=c&page=2": "example.com/a?page=2",
        "https://example.com/a?ref=home": "example.com/a",
        "https://example.com/a?page=2": "example.com/a?page=2",
    }
    for raw, want in cases.items():
        assert _norm_one(spark, raw) == want, raw


def test_dedup_keeps_min_id_per_normalized_key(spark):
    rows = [
        (1, "https://example.com/a"),
        (2, "http://www.Example.com/a/"),   # same page, crawl variant
        (3, "https://example.com/a?utm_source=feed"),
        (4, "https://example.com/b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url"])
    out = {r["doc_id"]: r for r in url_dedup(df).collect()}
    assert [out[i]["keep"] for i in (1, 2, 3, 4)] == [True, False, False, True]
    assert out[2]["url_norm"] == out[1]["url_norm"] == "example.com/a"
    # pure Catalyst — no Python anywhere in the plan
    assert not Plan(url_dedup(df)).has("EvalPython")
