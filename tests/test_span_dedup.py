"""Unit tests for the C4-style global 3-sentence-span dedup
(operators/span_dedup.py) — first-occurrence keep, overlap-union
removal, empty-doc passthrough, and boilerplate-at-scale boundedness."""

from pii_filter_spark.operators.span_dedup import SPAN_SENTENCES, span_dedup


def _collect(df):
    return {
        r["doc_id"]: (r["n_sentences"], r["n_removed"], r["text_dedup"])
        for r in df.collect()
    }


def test_first_occurrence_survives(spark):
    tail = "Um. Dois. Tres."
    rows = [
        (1, "Intro unica A. " + tail),
        (2, "Intro unica B. " + tail),
        (3, "Intro unica C. " + tail),
    ]
    out = _collect(span_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    # doc 1 keeps the span; docs 2 and 3 lose all three tail sentences
    assert out[1] == (4, 0, "Intro unica A. Um. Dois. Tres.")
    assert out[2] == (4, 3, "Intro unica B.")
    assert out[3] == (4, 3, "Intro unica C.")


def test_empty_and_sentence_free_docs_pass_through(spark):
    rows = [(1, ""), (2, "   "), (3, "So uma frase.")]
    out = _collect(span_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    assert out[1] == (0, 0, "")
    assert out[2] == (0, 0, "")
    assert out[3] == (1, 0, "So uma frase.")


def test_overlapping_removals_union(spark):
    # doc 2 repeats doc 1's sentences 0..3: spans (0,1,2) and (1,2,3)
    # are both duplicates; removal unions to all four sentences.
    rows = [
        (1, "Alpha. Beta. Gama. Delta."),
        (2, "Alpha. Beta. Gama. Delta. Cauda propria."),
    ]
    out = _collect(span_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    assert out[1] == (4, 0, "Alpha. Beta. Gama. Delta.")
    assert out[2] == (5, 4, "Cauda propria.")


def test_intra_document_repeat_is_removed(spark):
    rows = [(1, "X. Y. Z. Meio. X. Y. Z.")]
    out = _collect(span_dedup(spark.createDataFrame(rows, ["doc_id", "text"])))
    n_sent, n_removed, text = out[1]
    assert (n_sent, n_removed) == (7, 3)
    assert text == "X. Y. Z. Meio."


def test_span_width_parameter_and_validation(spark):
    # a shared run shorter than SPAN_SENTENCES is no duplicate span; one
    # of exactly SPAN_SENTENCES is
    rows = [(1, "A. B. C."), (2, "A. B. D."), (3, "E. A. B. C.")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = _collect(span_dedup(df))
    assert out[1] == (3, 0, "A. B. C.")
    assert out[2] == (3, 0, "A. B. D.")
    assert out[3] == (4, SPAN_SENTENCES, "E.")


def test_boilerplate_cohort_bounded(spark):
    # 2,000 identical docs: one global span group with 2,000 members.
    # row_number streams the hot window partition — must finish fast and
    # keep exactly the lowest doc_id intact.
    rows = [(i, "Mesmo aviso legal. Sempre igual. Em todo documento.")
            for i in range(2000)]
    out = span_dedup(spark.createDataFrame(rows, ["doc_id", "text"]))
    survivors = out.where("n_removed = 0").collect()
    assert [r["doc_id"] for r in survivors] == [0]
    assert out.where("n_removed = 3 and text_dedup = ''").count() == 1999
