"""HTML main-text extraction (operators/html_extract.py): subtree
removal, line-boundary preservation, entity decoding, whitespace
normalization, Spark/DuckDB chain parity, and the zero-shuffle plan."""

import duckdb
import pytest

from pii_filter_spark.operators.html_extract import (
    html_extract,
    strip_html_sql,
)
from tests.plans import Plan

CASES = [
    (0, "<p>Hello world</p>", "Hello world"),
    # script/style text must never leak, case-insensitive, multi-line
    (1, "<SCRIPT>\nsecret()\n</SCRIPT><p>ok</p>", "ok"),
    (2, "<style a=b>\np { x }\n</style>ok", "ok"),
    (3, "<!-- hidden\ncomment -->ok", "ok"),
    # block boundaries become line breaks; inline tags become spaces
    (4, "<p>one</p><p>two</p>", "one\ntwo"),
    (5, "a<br>b<br/>c", "a\nb\nc"),
    (6, "<ul><li>x</li><li>y</li></ul>", "x\ny"),
    (7, "a<b>bold</b>c", "a bold c"),
    # entities
    (8, "a &amp; b &lt;c&gt; &quot;d&quot; &#39;e&#39;&nbsp;f",
     "a & b <c> \"d\" 'e' f"),
    # whitespace: runs collapse, blank lines collapse, edges trim
    (9, "  <p>  a   b  </p>\n\n\n<p>c</p>  ", "a b\nc"),
    (10, "", ""),
    (11, "no tags at all", "no tags at all"),
]


def test_extraction_cases(spark):
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in CASES], "doc_id long, html string"
    )
    got = {r["doc_id"]: r["text"] for r in html_extract(df).collect()}
    for i, _, want in CASES:
        assert got[i] == want, (i, got[i], want)


def test_duckdb_chain_is_identical(spark):
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in CASES], "doc_id long, html string"
    )
    spark_rows = {r["doc_id"]: (r["text"], r["n_lines"], r["n_chars"])
                  for r in html_extract(df).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, html VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)",
                    [(i, h) for i, h, _ in CASES])
    expr = strip_html_sql()
    duck_rows = {
        i: (t, nl, nc)
        for i, t, nl, nc in con.execute(
            f"SELECT doc_id, {expr}, len(string_split({expr}, chr(10))), "
            f"length({expr}) FROM t"
        ).fetchall()
    }
    assert spark_rows == duck_rows


def test_shape_facts(spark):
    df = spark.createDataFrame(
        [(0, "<p>a</p><p>b</p><p>c</p>")], "doc_id long, html string"
    )
    row = html_extract(df).collect()[0]
    assert row["n_lines"] == 3
    assert row["n_chars"] == len("a\nb\nc")


def test_plan_is_one_codegen_projection(spark):
    df = spark.createDataFrame([(0, "<p>x</p>")], "doc_id long, html string")
    plan = Plan(html_extract(df))
    assert not plan.has("Exchange")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert not plan.has(marker)


def test_synth_page_py_matches_spark_column(spark):
    """The refinedweb_pipeline fixture builds pages with the pure-Python
    twin; it must equal the Spark column byte-for-byte."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em

    rows = [(0, "plain"), (1, "a & b"), (2, "café 快速"), (3, ""),
            (4, "multi word text"), (5, "x" * 40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["html"]
        for r in df.select(
            "doc_id",
            em._synth_html(F.col("doc_id"), F.col("text")).alias("html"),
        ).collect()
    }
    for d, t in rows:
        assert got[d] == em.synth_page_py(d, t), d
