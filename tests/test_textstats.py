"""Text-analysis operators over the documents table."""

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_token_counts_match_python(spark, docs):
    from pii_filter_spark.operators.textstats import BPE_TOKEN_RE, token_counts

    got = {r["doc_id"]: r for r in token_counts(docs).collect()}
    pyre = re.compile(r"\w+|[^\w\s]", re.UNICODE)
    for r in docs.select("doc_id", "text").limit(100).collect():
        t = r["text"] or ""
        g = got[r["doc_id"]]
        assert g["ws_tokens"] == len(t.split())
        assert g["bpe_tokens"] == len(pyre.findall(t))
        assert g["n_chars"] == len(t)


def test_fingerprints_collapse_whitespace_case(spark):
    from pii_filter_spark.operators.textstats import fingerprints

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in fingerprints(df).collect()}
    assert rows[1]["fingerprint_md5"] == rows[2]["fingerprint_md5"]
    assert rows[1]["fingerprint_64"] == rows[2]["fingerprint_64"]
    assert rows[1]["fingerprint_md5"] != rows[3]["fingerprint_md5"]


def test_language_id_over_documents(spark, docs):
    from pii_filter_spark.operators.textstats import language_id

    out = language_id(docs).collect()
    assert len(out) == docs.count()
    assert all(r["lang_detected"] is not None for r in out)


def test_sentence_split_udtf(spark):
    """Python UDTF fan-out: ordinal = raw match index, empties filtered."""
    from pii_filter_spark.operators.udtf_ops import split_sentences

    df = spark.createDataFrame(
        [(1, "Primeira frase. Segunda! Terceira? "), (2, None), (3, "Sem pontuacao")],
        "doc_id long, caption string",
    )
    rows = {(r.doc_id, r.sent_idx): r.sentence
            for r in split_sentences(df).collect()}
    assert rows == {
        (1, 0): "Primeira frase.",
        (1, 1): "Segunda!",
        (1, 2): "Terceira?",
        (3, 0): "Sem pontuacao",
    }


def test_stratified_take_deterministic_quota(spark):
    from pii_filter_spark.operators.textstats import stratified_take

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(100)],
        "doc_id long, lang string",
    )
    out = stratified_take(df, 5)
    rows = out.collect()
    by_stratum = {}
    for r in rows:
        by_stratum.setdefault(r.lang, []).append((r.sample_rank, r.doc_id))
    assert set(by_stratum) == {"a", "b"}
    assert all(len(v) == 5 for v in by_stratum.values())
    assert all(sorted(x for x, _ in v) == [1, 2, 3, 4, 5]
               for v in by_stratum.values())
    # deterministic across partition layouts
    again = {(r.lang, r.sample_rank, r.doc_id)
             for r in stratified_take(df.repartition(7), 5).collect()}
    assert again == {(r.lang, r.sample_rank, r.doc_id) for r in rows}


def test_repetition_signals(spark):
    from pii_filter_spark.operators.textstats import repetition_signals

    df = spark.createDataFrame(
        [(1, "One two. One two. Three four!"),
         (2, "a a a b"),
         (3, ""),
         (4, "Unique sentence here.")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_signals(df).collect()}
    assert out[1].n_sentences == 3
    assert out[1].dup_sent_frac == 0.3333     # one repeated sentence of 3
    assert out[2].top_word_frac == 0.75       # 'a' is 3 of 4 words
    assert out[3].n_sentences == 0
    assert out[3].dup_sent_frac == 0.0
    assert out[3].top_word_frac == 0.0        # blank doc: 0 words, not ['']
    assert out[4].dup_sent_frac == 0.0


def test_contamination_flags(spark):
    """Docs sharing an 8-gram with the benchmark flag true; shorter or
    disjoint docs flag false."""
    from pii_filter_spark.operators.textstats import contamination_flags

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, "prefix words " + bench_text + " suffix tail"),  # contains
            (2, "completely different content with many distinct words "
                "spread across this entire sentence here"),
            (3, "too short to contain any"),                      # < 8 words
            (4, "The  QUICK   brown fox Jumps over the lazy dog"),  # case/ws
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(bench_text,)], "text string")
    out = {r.doc_id: r.contaminated
           for r in contamination_flags(docs, bench).collect()}
    assert out == {1: True, 2: False, 3: False, 4: True}
