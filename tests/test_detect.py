"""Engine-vs-oracle agreement on detection/scrub semantics + golden cases.

The engine (pii_filter_spark.core.detect, fused single pass) and the oracle
(tests.oracle.reference_semantics, staged like the reference) are disjoint
implementations; byte-equality here is the two-implementation correctness
check demanded by FIXTURES.md B3.
"""

import pytest

from pii_filter_spark.core.detect import scrub_text
from pii_filter_spark.core.restore import (
    cleanup_duplicate_labels,
    has_residual_placeholders,
    restore_text,
)
from pii_filter_spark.sources.synth import gen_pandas
from tests.oracle import reference_semantics as oracle

GOLDEN = [
    # (caption, expected scrubbed)
    (
        "Funcionário João da Silva, CPF 123.456.789-01, mora na Rua das Flores.",
        "Funcionário [NOME_COMPLETO_1], CPF [CPF_1], mora na [LOCAL_1].",
    ),
    (
        "Contato: maria.souza@empresa.com.br ou (11) 98765-4321.",
        "Contato: [EMAIL_1] ou [TELEFONE_1].",
    ),
    # all-same-digit CPF is implausible -> NOT masked (validators.py:21-26)
    (
        "Cartaz com CPF 111.111.111-11 de exemplo para treino demonstrativo.",
        "Cartaz com CPF 111.111.111-11 de exemplo para treino demonstrativo.",
    ),
    # left-to-right per-type numbering across two CPFs
    (
        "CPFs 123.456.789-01 e 987.654.321-09 constam no arquivo.",
        "CPFs [CPF_1] e [CPF_2] constam no arquivo.",
    ),
    # toxic word scrub
    (
        "seu idiota, o relatório está atrasado",
        "seu [TOXICO_1], o relatório está atrasado",
    ),
    # FP bait must not mask: "Bom dia", "RH", bare "CPF" word
    (
        "Bom dia RH, seguem os documentos sem CPF anexado.",
        "Bom dia RH, seguem os documentos sem CPF anexado.",
    ),
    # bare 11 digits: CPF and TELEFONE patterns overlap; CPF priority wins
    (
        "Documento registrado sob numeração 12345678901 ontem.",
        "Documento registrado sob numeração [CPF_1] ontem.",
    ),
]


@pytest.mark.parametrize("caption,expected", GOLDEN)
def test_golden_scrub(caption, expected):
    scrubbed, _ = scrub_text(caption)
    assert scrubbed == expected


@pytest.mark.parametrize("caption,expected", GOLDEN)
def test_oracle_agrees_on_golden(caption, expected):
    scrubbed, _ = oracle.scrub(caption)
    assert scrubbed == expected


def test_engine_matches_oracle_on_corpus():
    captions = gen_pandas(500, seed=7).caption.tolist()
    mismatches = 0
    for c in captions:
        got_text, got_maps = scrub_text(c)
        exp_text, exp_maps = oracle.scrub(c)
        if got_text != exp_text or got_maps != exp_maps:
            mismatches += 1
    assert mismatches == 0


def test_mapping_spans_are_original_offsets():
    caption = "CPF 123.456.789-01 e email a@b.com citados."
    _, maps = scrub_text(caption)
    for m in maps:
        assert caption[m["span_start"]:m["span_end"]] == m["original_value"]


def test_roundtrip_restore_identity():
    captions = gen_pandas(300, seed=11).caption.tolist()
    for c in captions:
        scrubbed, maps = scrub_text(c)
        restored = restore_text(scrubbed, maps)
        assert restored == c
        assert not has_residual_placeholders(restored)


def test_cleanup_duplicate_labels():
    assert cleanup_duplicate_labels("o CPF cpf 123") == "o CPF 123"
    assert cleanup_duplicate_labels("conta   conta 55") == "conta 55"
    assert cleanup_duplicate_labels("matrícula diferente") == "matrícula diferente"


def test_nome_fast_path_equals_alternation_regex():
    """_find_names_fast must produce exactly the spans of the original
    ~400-way NOME alternation pattern, on real reference texts and on the
    synthetic caption corpus."""
    import json
    import os

    from pii_filter_spark.core.ner_dictionary import (
        GRAMMARS,
        _find_names_fast,
    )
    from pii_filter_spark.sources.synth import gen_pandas

    nome_pats = [p for t, p in GRAMMARS if t == "NOME_COMPLETO"]
    assert len(nome_pats) == 1
    pat = nome_pats[0]

    texts = list(gen_pandas(600, seed=77)["caption"])
    if os.path.exists("/root/reference/dataset.json"):
        texts += [
            c["prompt_text"] for c in json.load(open("/root/reference/dataset.json"))
        ]
    checked = 0
    for text in texts:
        slow = [(m.start(), m.end()) for m in pat.finditer(text)]
        fast = _find_names_fast(text)
        assert fast == slow, (text, fast, slow)
        checked += len(slow)
    assert checked > 300  # the corpora really exercise the name grammar


def _gate_inputs():
    """Synthetic captions, their concatenations, and adversarial inputs:
    long capitalized runs behind ORG words, and legal suffixes that are
    not followed by a word character."""
    import json
    import os

    import numpy as np

    from pii_filter_spark.sources.synth import gen_pandas, make_caption

    texts = list(gen_pandas(300, seed=55)["caption"])
    texts += [make_caption(np.random.default_rng((55, i))) for i in range(2000)]
    texts += [" ".join(texts[i:i + 40]) for i in range(0, 2000, 40)]
    texts += [
        "Banco Abcd " * 200, "Empresa Ltda. " + "Abcd " * 200,
        "Amil Saúde " + "Abcd " * 50, "A Petro S.A. cresceu.",
        "Contrato com Xyz Ltda. e Abc S/A", "Loja Abc MEU ponto", "Abc EPP",
        "laudo médico, Diretora Ana Lima, Rua XV de Novembro, Caxias do Sul",
        "ſtupid", "İDIOTA", "Dıretor Comercial", "Dİretor de Vendas",
    ]
    # the characters re.IGNORECASE folds onto i and s but str.lower() does not
    texts += [t.replace("i", "ı") for t in texts[:300]]
    texts += [t.replace("s", "ſ") for t in texts[:300]]
    texts += [t.replace("I", "İ").replace("i", "İ") for t in texts[:300]]
    if os.path.exists("/root/reference/dataset.json"):
        texts += [
            c["prompt_text"] for c in json.load(open("/root/reference/dataset.json"))
        ]
    return texts


def test_rule_gates_are_necessary_conditions():
    """Whenever a rule's gate skips a text, the rule's pattern has no match
    in it, for every rule of the NER, sensitive-topic and toxicity tables.
    The context-anchored sensitive gates are heuristics in general
    (sensitive.py); on these inputs they hold too."""
    from pii_filter_spark.core import ner_dictionary, sensitive, toxicity
    from pii_filter_spark.core.rules import text_words

    rules = ner_dictionary.RULES + sensitive.SENSITIVE_RULES + toxicity.RULES
    skipped = set()
    for text in _gate_inputs():
        words = text_words(text)
        for i, rule in enumerate(rules):
            if isinstance(rule.gate, frozenset):
                opens = not words.isdisjoint(rule.gate)
            else:
                opens = rule.gate.search(text) is not None
            if not opens:
                assert rule.pattern.search(text) is None, (rule.type, i, text)
                skipped.add(i)
    assert skipped == set(range(len(rules)))  # every gate really skips


def test_fold_maps_ignorecase_matches_onto_gate_letters():
    """rules.fold turns every code point that re.IGNORECASE matches to a
    letter of the gate vocabularies into exactly that letter, so a folded
    word equals the gate word whenever a case-insensitive pattern equals it."""
    import re

    from pii_filter_spark.core import ner_dictionary, sensitive, toxicity
    from pii_filter_spark.core.rules import fold

    rules = ner_dictionary.RULES + sensitive.SENSITIVE_RULES + toxicity.RULES
    letters = {
        ch for r in rules if isinstance(r.gate, frozenset) for w in r.gate for ch in w
    }
    any_letter = re.compile("[" + re.escape("".join(sorted(letters))) + "]", re.I)
    folded = 0
    for cp in range(0x110000):
        c = chr(cp)
        if any_letter.fullmatch(c):
            matched = {g for g in letters if re.fullmatch(re.escape(g), c, re.I)}
            assert matched == {fold(c)}, (hex(cp), matched, fold(c))
            folded += fold(c) != c.lower()
    assert folded == 3  # İ, ı and ſ


def test_legal_suffix_org_needs_no_other_org_word():
    """The legal-suffix ORG grammar runs on its own suffix, also when no
    other ORG word is in the text and the suffix ends in a dot; a word
    that only starts with a suffix ("MEU", "EPPX") is no suffix."""
    from pii_filter_spark.core.ner_dictionary import find_entities
    from tests.oracle.reference_semantics import ner_stage

    for text, org in [("A Petro S.A. cresceu.", "Petro S.A."),
                      ("Souza S.A. contratou", "Souza S.A."),
                      ("Loja Abc ME ponto", "Loja Abc ME"),
                      ("Flamengo MEU time", None),
                      ("Aurora EPPX fim", None)]:
        got = [(d["type"], d["value"]) for d in find_entities(text)]
        orgs = [v for t, v in got if t == "ORGANIZACAO"]
        assert orgs == ([org] if org else []), got
        assert got == [(h.type, h.value) for h in ner_stage(text)]


def test_cargo_context_reads_the_previous_word():
    """The single-word CARGO guard rejects a title right after an
    adjectival head noun ("laudo médico") across whitespace of any kind,
    and _prev_word gives the word the former whole-prefix regex found."""
    import re

    import numpy as np

    from pii_filter_spark.core.ner_dictionary import _cargo_context_ok, _prev_word

    def ok(text, word="médico"):
        s = text.index(word)
        return _cargo_context_ok(text, s, s + len(word), word)

    assert not ok("laudo médico")
    assert not ok("Laudo\n\t médico")
    assert not ok("o exame  médico")
    assert ok("médico")              # nothing before it
    assert ok("laudo_x médico")      # "_" is a word character
    assert ok("x_laudo médico")
    assert ok("laudo, médico")       # punctuation ends the look-back
    assert ok("o médico")

    prev_word_re = re.compile(r"([\w]+)\s*$", re.UNICODE)
    rng = np.random.default_rng(9)
    alphabet = list("ab_ç9 \n\t\u00a0.,-é")
    for _ in range(5000):
        text = "".join(rng.choice(alphabet, size=int(rng.integers(0, 12))))
        for start in range(len(text) + 1):
            m = prev_word_re.search(text, 0, start)
            assert _prev_word(text, start) == (m.group(1) if m else ""), (text, start)


def test_drop_overlapping_equals_all_pairs_check():
    """The bisect + prefix-max filter keeps exactly the candidates that
    overlap no winner under a.start < b.end and a.end > b.start, on random
    span sets with adjacent, nested, duplicate and empty spans."""
    import numpy as np

    from pii_filter_spark.core.detect import drop_overlapping

    def spans(rng, n):
        out = []
        for _ in range(n):
            s = int(rng.integers(0, 40))
            out.append({"start": s, "end": s + int(rng.integers(0, 8))})
        return out

    rng = np.random.default_rng(11)
    for _ in range(3000):
        cands = spans(rng, int(rng.integers(0, 12)))
        winners = spans(rng, int(rng.integers(0, 12)))
        expected = [c for c in cands
                    if not any(c["start"] < w["end"] and c["end"] > w["start"]
                               for w in winners)]
        assert drop_overlapping(cands, winners) == expected, (cands, winners)


def _splice_substitute(text, mappings):
    """The former substitute body: one right-to-left splice per mapping,
    quadratic in len(text). Kept as the reference for the linear pass."""
    out = text
    for mp in reversed(mappings):
        out = out[: mp["span_start"]] + mp["placeholder"] + out[mp["span_end"]:]
    return out


def _random_disjoint_detections(rng, n_chars):
    """A random text and a shuffled set of disjoint (possibly adjacent)
    detections over it, including spans at both ends."""
    alphabet = "abc XYZ 09-.,\nçãé€😀"
    text = "".join(rng.choice(list(alphabet), size=n_chars))
    cuts = sorted(set(rng.integers(0, n_chars + 1, size=int(rng.integers(0, 12))).tolist())
                  | {0, n_chars})
    spans = [(s, e) for s, e in zip(cuts, cuts[1:]) if rng.random() < 0.6]
    dets = [{"type": str(rng.choice(["CPF", "EMAIL", "NOME_COMPLETO"])),
             "value": text[s:e], "start": s, "end": e} for s, e in spans]
    rng.shuffle(dets)
    return text, dets


def test_substitute_equals_right_to_left_splice():
    """The left-to-right join is byte-identical to the splice it replaced,
    on random disjoint detection sets and on 100k synthetic captions."""
    import numpy as np

    from pii_filter_spark.core.detect import detect_all, substitute
    from pii_filter_spark.sources.synth import make_caption

    rng = np.random.default_rng(2024)
    for _ in range(3000):
        text, dets = _random_disjoint_detections(rng, int(rng.integers(0, 200)))
        out, mappings = substitute(text, dets)
        assert out == _splice_substitute(text, mappings), (text, dets)

    n_mapped = 0
    for i in range(100_000):
        text = make_caption(np.random.default_rng((31, i)))
        out, mappings = substitute(text, detect_all(text))
        assert out == _splice_substitute(text, mappings), text
        n_mapped += len(mappings)
    assert n_mapped > 100_000  # the captions really carry detections


def test_substitute_time_is_linear_in_text_size():
    """16x the characters (and detections) must cost well under the 256x
    a quadratic splice pays; min of 3 runs per size."""
    import time

    from pii_filter_spark.core.detect import substitute

    unit = "Contato CPF 123.456.789-01 na sala. "
    hit = unit.index("123")

    def best_secs(reps):
        text = unit * reps
        dets = [{"type": "CPF", "value": "123.456.789-01",
                 "start": k * len(unit) + hit, "end": k * len(unit) + hit + 14}
                for k in range(reps)]
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            substitute(text, dets)
            best = min(best, time.perf_counter() - t0)
        return best

    small, large = best_secs(2_000), best_secs(32_000)
    assert large / small < 64, (small, large)
