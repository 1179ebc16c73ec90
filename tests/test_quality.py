"""Quality-rule, language-ID and perplexity semantics (north-rule stages)."""

from pii_filter_spark.core.langid import detect_language
from pii_filter_spark.core.perplexity import PPL_THRESHOLD, perplexity
from pii_filter_spark.core.quality import drop_reasons, quality_signals
from pii_filter_spark.sources.synth import gen_pandas
from tests.oracle import reference_semantics as oracle


def test_langid_basics():
    assert detect_language("A equipe de engenharia concluiu o projeto ontem à tarde.") == "pt"
    assert detect_language("The team finished the project yesterday afternoon at work.") == "en"
    assert detect_language("El equipo terminó el proyecto ayer por la tarde.") == "es"
    assert detect_language("Die Mannschaft hat das Projekt gestern Nachmittag beendet.") == "de"
    assert detect_language("L'équipe a terminé le projet hier après-midi au bureau.") == "fr"
    assert detect_language("团队昨天下午完成了这个项目。") == "zh"
    assert detect_language("") == "und"
    assert detect_language("@@@ ### 123") == "und"


def test_perplexity_separates_text_from_mash():
    clean = "A fotografia mostra uma mulher sorrindo na praia ao amanhecer."
    mash = "zxqv kjw qqxz vkj zzxw pqkz jvvx wqzk bfgt nplr"
    assert perplexity(clean) < PPL_THRESHOLD
    assert perplexity(mash) > PPL_THRESHOLD


def test_rule_triggers():
    assert drop_reasons(None) == ["empty"]
    assert drop_reasons("   ") == ["empty"]
    assert "too_short" in drop_reasons("foto")
    assert "lorem_ipsum" in drop_reasons(
        "Lorem ipsum dolor sit amet, consectetur adipiscing elit sed do.")
    assert "brace" in drop_reasons(
        "A imagem mostra {nome} na recepção da empresa central hoje.")
    assert "symbol_ratio" in drop_reasons("### " * 8 + "promoção " + "#" * 5)
    line = "A foto mostra o escritório central da empresa."
    assert "repeated_lines" in drop_reasons("\n".join([line] * 5))
    assert "lang" in drop_reasons(
        "The picture shows an employee smiling at the office camera.")
    long_pt = " ".join(["palavra"] * 300)
    assert "too_long" in drop_reasons(long_pt)


def test_clean_caption_keeps():
    cap = "A fotografia mostra uma pessoa sorrindo para a câmera no escritório."
    assert drop_reasons(cap) == []


def test_signals_shape():
    s = quality_signals("uma frase de teste\ncom duas linhas")
    assert s["word_count"] == 7
    assert s["line_count"] == 2


def test_engine_matches_oracle_quality_on_corpus():
    captions = gen_pandas(500, seed=23).caption.tolist()
    for c in captions:
        assert drop_reasons(c) == oracle.quality_drop_reasons(c), repr(c)


def test_filter_ablation_ws_class_matches_oracle_on_vertical_tab(spark):
    # Java \s includes \x0B, RE2's does not — both sides now use the
    # explicit ASCII class, so a VT-bearing doc tokenizes identically.
    from pii_filter_spark.operators.quality_stage import rule_ablation

    rows = [(1, "alpha\x0bbeta gamma"), (2, "one two three four")]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["rule"]: (r["n_fail"], r["n_unique_fail"])
           for r in rule_ablation(df).collect()}
    # doc 1: VT splits -> 3 words (>=3 passes word_count)
    assert got["word_count"][0] == 0


def test_filter_ablation_fixture_oracle_matches_rule_ablation(spark, tmp_path):
    """The pure filter_ablation twin (oracle_support) equals the native
    rule_ablation on text that trips every rule: synthetic captions plus
    Java-whitespace, blank, brace, hash and boundary-ratio edge cases."""
    import duckdb
    import numpy as np
    import pandas as pd

    from pii_filter_spark import oracle_support
    from pii_filter_spark.operators.quality_stage import rule_ablation
    from pii_filter_spark.sources.synth import make_caption

    texts = [make_caption(np.random.default_rng((13, i))) for i in range(2000)]
    texts += ["", "   ", "\tlead tab words", "alpha\x0bbeta gamma", "a b c",
              "ab cd ef", "abcdefghijklmno pq rs", "# " + "w " * 9,
              "## " + "w " * 9, "x {y} z", "LOREM Ipsum dolor"]
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        tmp_path / "documents.parquet")
    res = duckdb.sql(oracle_support.filter_ablation_sql(str(tmp_path)))
    want = {r[0]: (r[1], r[2]) for r in res.fetchall()}
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string")
    got = {r["rule"]: (r["n_fail"], r["n_unique_fail"])
           for r in rule_ablation(df).collect()}
    assert got == want
    assert all(n_fail > 0 for n_fail, _ in want.values())
