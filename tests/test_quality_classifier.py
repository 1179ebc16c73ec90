"""Unit tests for the learned quality stage (fastText-style hashed-ngram
logistic classifier + GPT-3 Pareto keep) — determinism, distillation
agreement, and the keep rule's shape."""

import math

from pii_filter_spark.core.quality import drop_reasons
from pii_filter_spark.operators.quality_classifier import (
    distill_label,
    hashed_features,
    pareto_keep,
    pareto_uniform,
    quality_classifier_stage,
    score_text,
    train_quality_classifier,
    training_sample,
)

GOOD = (
    "Este e um paragrafo de texto normal com frases completas e palavras "
    "comuns que o filtro heuristico mantem sem nenhuma razao de descarte."
)
BAD = "zz zz zz zz zz zz"  # short tokens: word_length/lang/ppl drop it


def _toy_corpus():
    rows = []
    for i in range(40):
        rows.append((GOOD + f" Variacao numero {i}.", 1))
        rows.append((BAD + f" {i}", 0))
    return rows


def test_training_is_deterministic():
    w1, b1 = train_quality_classifier(_toy_corpus())
    w2, b2 = train_quality_classifier(_toy_corpus())
    assert w1 == w2 and b1 == b2


def test_classifier_separates_distilled_labels():
    w, b = train_quality_classifier(_toy_corpus())
    assert score_text(GOOD + " Variacao numero 3.", w, b) > 0.5
    assert score_text(BAD + " 3", w, b) < 0.5
    # unseen texts that share vocabulary generalize by hashed features
    assert score_text(GOOD + " Outra frase final.", w, b) > 0.5
    assert score_text(BAD + " zz zz 999", w, b) < 0.5
    # a doc with NO features at all (no \w tokens) falls back exactly
    # to the learned bias — honest cold start, no arbitrary extreme
    assert score_text("!!! ???", w, b) == 1.0 / (1.0 + math.exp(-b))


def test_distill_label_is_surface_rules_only():
    from pii_filter_spark.core.quality import TARGET_LANG

    # langid/perplexity are neutralized — the label is the surface rules
    for t in (GOOD, BAD, "", "lorem ipsum dolor"):
        expect = 1 if not drop_reasons(t, lang=TARGET_LANG, ppl=0.0) else 0
        assert distill_label(t) == expect
    # a surface-clean doc labels 1 even when langid/ppl would drop it
    assert distill_label(GOOD) == 1


def test_hashed_features_mean_pooled_and_empty():
    assert hashed_features("") == {}
    f = hashed_features("a b a")
    # 3 unigrams + 2 bigrams = 5 total mass, distributed over buckets
    assert math.isclose(sum(f.values()), 1.0)


def test_pareto_keep_shape():
    # score 1.0 always keeps; score 0.0 keeps only on an extreme draw
    ids = range(1000)
    assert all(pareto_keep(1.0, i) for i in ids)
    low = sum(pareto_keep(0.05, i) for i in ids)
    assert 0 < low < 500  # long tail kept, but a minority
    # deterministic per id
    assert pareto_keep(0.4, 7) == pareto_keep(0.4, 7)
    assert 0.0 <= pareto_uniform(7) < 1.0


def test_stage_matches_pure_scoring(spark):
    rows = [(i, t) for i, (t, _) in enumerate(_toy_corpus()[:20])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    w, b = train_quality_classifier(training_sample(df))
    out = {r["doc_id"]: r for r in quality_classifier_stage(df, w, b).collect()}
    for i, t in rows:
        p = score_text(t, w, b)
        assert out[i]["q_prob"] == p
        assert out[i]["keep_clf"] == (p >= 0.5)
        assert out[i]["keep_pareto"] == pareto_keep(p, i)


def test_distillation_f1_floor_on_corpus():
    """Bounded 512-doc training must recover the surface rules on the
    full sf0.01 corpus at F1 >= 0.9 (pins the operator's usefulness,
    not just its determinism)."""
    import duckdb

    docs = duckdb.sql(
        "SELECT doc_id, text FROM '/root/testdata/sf0.01/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    labs = [distill_label(t) for _, t in docs]
    w, b = train_quality_classifier(
        [(t, l) for (_, t), l in zip(docs[:512], labs[:512])]
    )
    tp = fp = fn = 0
    for (_, t), l in zip(docs, labs):
        pred = score_text(t, w, b) >= 0.5
        tp += pred and l
        fp += pred and not l
        fn += (not pred) and l
    prec = tp / (tp + fp)
    rec = tp / (tp + fn)
    assert 2 * prec * rec / (prec + rec) >= 0.9
