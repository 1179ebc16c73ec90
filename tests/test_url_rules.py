"""URL keep/drop rules (operators/url_rules.py): rule precedence,
subdomain blocklist inheritance, integer word scoring, and the
zero-shuffle plan claim."""

import pytest
from pyspark.sql import functions as F

from pii_filter_spark.operators.url_rules import (
    DEFAULT_THRESHOLD,
    url_filter,
)
from tests.plans import Plan


@pytest.fixture(scope="module")
def urls(spark):
    rows = [
        (0, "http://spam-casino.biz/p/1"),
        (1, "https://shop.free-lottery.win/deals"),
        (2, "https://EN.wikipedia.org/wiki/Spark"),
        (3, "https://www.Example.com/p/2?utm_source=x"),
        (4, "https://buy-viagra-pills.example.net/p/3"),
        (5, "http://news.mysite.io/p/4#frag"),
        (6, "https://example.org/adult-webcam-casino/p/5"),
        (7, "https://blog.example.net:8080/p/6/"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "url"])


def test_rules_and_precedence(urls):
    got = {r["doc_id"]: (r["reason"], r["keep"])
           for r in url_filter(urls).collect()}
    assert got[0] == ("blocklist", False)
    # subdomain inherits the registered-domain verdict; the lottery soft
    # word never gets a say (precedence)
    assert got[1] == ("blocklist", False)
    assert got[2] == ("curated", False)
    assert got[3] == (None, True)
    # viagra(100)+pills(50) >= 90
    assert got[4] == ("word_score", False)
    assert got[5] == (None, True)
    # path words count too: adult(40)+webcam(40)+casino(60)
    assert got[6] == ("word_score", False)
    assert got[7] == (None, True)


def test_host_and_domain_extraction(urls):
    rows = {r["doc_id"]: r for r in url_filter(urls).collect()}
    assert rows[2]["host"] == "en.wikipedia.org"
    assert rows[2]["domain"] == "wikipedia.org"
    # www. and port are stripped before extraction
    assert rows[3]["host"] == "example.com"
    assert rows[7]["host"] == "blog.example.net"
    assert rows[7]["domain"] == "example.net"


def test_threshold_boundary(spark):
    # exactly at the threshold drops; one centi-point under keeps
    df = spark.createDataFrame(
        [(0, "https://example.com/casino-pills"),   # 60+50=110 >= 90
         (1, "https://example.com/webcam-adult")],  # 40+40=80  <  90
        ["doc_id", "url"],
    )
    got = {r["doc_id"]: r["reason"] for r in url_filter(df).collect()}
    assert got[0] == "word_score"
    assert got[1] is None
    assert DEFAULT_THRESHOLD == 90


def test_literal_path_plan_has_no_shuffle(urls):
    assert not Plan(url_filter(urls)).has("Exchange")
