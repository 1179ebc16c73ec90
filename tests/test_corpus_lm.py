"""Distributed corpus-trained trigram LM (operators/corpus_lm.py):
pure-twin parity, partition invariance, OOV handling and the bounded
top-K model."""

from itertools import product

from pii_filter_spark.operators import corpus_lm
from pii_filter_spark.operators.corpus_lm import (
    TOP_K,
    corpus_lm_rows,
    corpus_lm_scores,
    trigrams,
)

ROWS = [
    (0, "o gato subiu no telhado da casa amarela"),
    (1, "a casa amarela tem um gato no telhado"),
    (2, "relatorio trimestral de vendas da empresa"),
    (3, "xqzk wvjq zzzz !!!! 12345"),
    (4, ""),
    (5, None),
    (6, "o gato subiu no telhado da casa amarela"),
]


def _collect(df):
    return sorted((r["doc_id"], r["n_grams"], r["nll_micronats"])
                  for r in df.collect())


def test_matches_pure_twin(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    got = _collect(corpus_lm_scores(df))
    exp = sorted(corpus_lm_rows([(i, t) for i, t in ROWS]))
    assert got == exp


def test_partition_invariant(spark):
    df2 = spark.createDataFrame(ROWS, "doc_id long, text string").repartition(2)
    df8 = spark.createDataFrame(ROWS, "doc_id long, text string").repartition(8)
    assert _collect(corpus_lm_scores(df2)) == _collect(corpus_lm_scores(df8))


def test_identical_docs_score_identically(spark):
    df = spark.createDataFrame(ROWS, "doc_id long, text string")
    got = {r[0]: r[1:] for r in _collect(corpus_lm_scores(df))}
    assert got[0] == got[6]
    assert got[4] == (0, 0)  # empty -> no grams, zero NLL
    assert got[5] == (0, 0)  # null behaves as empty


def test_oov_scores_higher_than_in_domain(spark):
    score = spark.createDataFrame(
        ROWS + [(10, "o gato subiu no telhado"), (11, "qqqq wwww kkkk jjjj vvvv")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in corpus_lm_scores(score).collect()}
    # per-gram NLL: junk made of unseen grams must cost more
    in_dom = got[10]["nll_micronats"] / got[10]["n_grams"]
    junk = got[11]["nll_micronats"] / got[11]["n_grams"]
    assert junk > in_dom


def test_top_k_cap_falls_back_to_oov(spark, monkeypatch):
    # every three-letter word, 40 to a doc: far more than TOP_K distinct grams
    words = ["".join(p) for p in product("abcdefghijklmnopqrstuvwxyz", repeat=3)]
    rows = ROWS + [(100 + i, " ".join(words[j:j + 40]))
                   for i, j in enumerate(range(0, len(words), 40))]
    assert len({g for _, t in rows for g in trigrams(t)}) > TOP_K
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = _collect(corpus_lm_scores(df))
    assert capped == sorted(corpus_lm_rows(rows))
    # and capping changes scores vs the uncapped model (OOV engaged)
    monkeypatch.setattr(corpus_lm, "TOP_K", 10**9)
    assert capped != sorted(corpus_lm_rows(rows))


def test_trigram_extraction_shape():
    assert trigrams("") == []
    assert trigrams("!!!") == []          # symbol-only normalizes away
    gs = trigrams("abc")
    assert len(gs) == 3                   # one gram per normalized char
    assert gs[0] == "\x02\x02a"


def test_moore_lewis_matches_twin_and_ranks_in_domain_first(spark):
    from pii_filter_spark.operators.corpus_lm import (
        moore_lewis_rows,
        moore_lewis_scores,
    )
    from pyspark.sql import functions as F

    rows = [
        (0, "in", "o gato subiu no telhado da casa amarela"),
        (1, "in", "a casa amarela tem um gato no telhado alto"),
        (2, "in", "o telhado da casa guarda o gato amarelo"),
        (3, "out", "quarterly revenue projections for the fiscal year"),
        (4, "out", "shipping manifest container port rotterdam"),
        (5, "out", "o gato no telhado da casa"),   # reads in-domain
        (6, "out", ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted(
        (r["doc_id"], r["n_grams"], r["delta_micronats"],
         r["avg_delta_micro"])
        for r in moore_lewis_scores(df, F.col("source") == "in").collect()
    )
    exp = sorted(moore_lewis_rows(
        [(i, t) for i, _, t in rows], {i for i, s, _ in rows if s == "in"}
    ))
    assert got == exp
    per_doc = {r[0]: r for r in got}
    # the in-domain-looking outsider must outrank the true outsiders
    assert per_doc[5][3] < per_doc[3][3]
    assert per_doc[5][3] < per_doc[4][3]
    # empty doc: no grams, delta 0, avg NULL
    assert per_doc[6][1] == 0 and per_doc[6][3] is None


def test_moore_lewis_accepts_string_predicate(spark):
    """in_domain may be a SQL expression string; same labeling as the
    Column form (the fused counting pass sees an identical flag)."""
    from pii_filter_spark.operators.corpus_lm import moore_lewis_scores
    from pyspark.sql import functions as F

    rows = [
        (0, "in", "o gato subiu no telhado"),
        (1, "out", "quarterly revenue projections"),
        (2, "in", "a casa amarela tem um gato"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    via_col = sorted(map(tuple,
        moore_lewis_scores(df, F.col("source") == "in").collect()))
    via_str = sorted(map(tuple,
        moore_lewis_scores(df, "source = 'in'").collect()))
    assert via_col == via_str
