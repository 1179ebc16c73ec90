"""Unit tests for exact-substring dedup (Lee et al. 2022 §4,
operators/exact_substring.py): global first-occurrence keep, overlap
union, short-doc passthrough, intra-doc repeats, and Spark/twin parity
on adversarial whitespace.
"""

from pii_filter_spark.operators.exact_substring import (
    SPAN_TOKENS,
    exact_substring_dedup,
    exact_substring_dedup_rows,
)


def _words(prefix, n=SPAN_TOKENS):
    return [f"{prefix}{i}" for i in range(n)]


def _collect(df):
    return {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["text_dedup"])
        for r in df.collect()
    }


def test_first_occurrence_survives_globally(spark):
    tail = " ".join(_words("t"))
    rows = [(1, "uniq1 " + tail), (2, "uniq2 " + tail), (3, "uniq3 " + tail)]
    out = _collect(exact_substring_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    n = SPAN_TOKENS + 1
    assert out[1] == (n, 0, "uniq1 " + tail)
    assert out[2] == (n, SPAN_TOKENS, "uniq2")
    assert out[3] == (n, SPAN_TOKENS, "uniq3")


def test_short_docs_pass_through(spark):
    short = " ".join(_words("s", SPAN_TOKENS - 1))
    rows = [(1, ""), (2, "   "), (3, short)]
    out = _collect(exact_substring_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    assert out[1] == (0, 0, "")
    assert out[2] == (0, 0, "")
    assert out[3] == (SPAN_TOKENS - 1, 0, short)


def test_overlapping_removals_union(spark):
    # doc 2 repeats all SPAN_TOKENS + 1 of doc 1's tokens: spans at 0 and
    # 1 are both duplicates; their union removes every repeated token.
    head = " ".join(_words("p", SPAN_TOKENS + 1))
    rows = [(1, head), (2, head + " own tail")]
    out = _collect(exact_substring_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    assert out[1] == (SPAN_TOKENS + 1, 0, head)
    assert out[2] == (SPAN_TOKENS + 3, SPAN_TOKENS + 1, "own tail")


def test_intra_document_repeat_removed(spark):
    span = " ".join(_words("x"))
    rows = [(1, f"{span} mid {span}")]
    out = _collect(exact_substring_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    assert out[1] == (2 * SPAN_TOKENS + 1, SPAN_TOKENS, f"{span} mid")


def test_spark_matches_python_twin_on_messy_whitespace(spark):
    w = _words("w", SPAN_TOKENS + 1)
    half = len(w) // 2
    rows = [
        (1, "  " + " ".join(w[:half]) + "\t" + "\n ".join(w[half:]) + "  "),
        (2, " ".join(w) + " extra"),
        (3, " ".join(_words("unrelated"))),
        (4, None),
        (5, " ".join(w[:SPAN_TOKENS])),  # exactly span length
    ]
    got = _collect(exact_substring_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    want = {d: (n, r, t) for d, n, r, t in exact_substring_dedup_rows(rows)}
    assert got == want
    # the normalized doc-1 span dominates doc 2's prefix and doc 5
    assert got[2][1] == SPAN_TOKENS + 1
    assert got[5] == (SPAN_TOKENS, SPAN_TOKENS, "")
