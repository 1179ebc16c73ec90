"""Character n-gram language identification [north-rule addition].

fastText lid.176 is the production tool named by the north rule; this
container has no fastText wheel and no network, so we ship the same *kind*
of model — a hashed character-n-gram linear classifier — trained at import
time from small embedded seed corpora (Cavnar & Trenkle-style n-gram
profiles with add-one smoothing, i.e. a char-trigram naive Bayes). It is
fully deterministic, a few KB of state per Python worker, and plugs into
the same vectorized UDF slot a real lid.176 model would occupy.

Supported labels: pt, en, es, de, fr, zh (+ "und" when there is no
evidence, e.g. empty/whitespace text).
"""

from __future__ import annotations

import math
import re
from collections import Counter
from typing import Dict, List, Optional

_SEED_CORPORA: Dict[str, str] = {
    "pt": (
        "A fotografia mostra uma mulher sorrindo na praia ao pôr do sol. "
        "Um gato preto dorme sobre o sofá da sala de estar. "
        "O funcionário apresentou os documentos necessários para a admissão. "
        "Crianças brincam no parque em uma tarde ensolarada de domingo. "
        "A equipe de engenharia concluiu o projeto antes do prazo previsto. "
        "Por favor, envie o relatório financeiro até o final da semana. "
        "O cachorro corre atrás da bola no quintal da casa amarela. "
        "A reunião foi remarcada para a próxima segunda-feira pela manhã. "
        "Uma vista panorâmica das montanhas cobertas de neblina ao amanhecer. "
        "O prato típico foi servido com arroz, feijão e farofa crocante. "
        "Ela não sabia que o ônibus já havia partido da estação central. "
        "Os resultados da pesquisa indicam um crescimento nas vendas deste ano."
    ),
    "en": (
        "The photograph shows a woman smiling on the beach at sunset. "
        "A black cat sleeps on the living room couch near the window. "
        "The employee submitted all required documents for onboarding. "
        "Children play in the park on a sunny Sunday afternoon together. "
        "Please send the financial report by the end of this week. "
        "The dog chases the ball across the yard of the yellow house. "
        "The meeting was rescheduled to next Monday morning instead. "
        "A panoramic view of mountains covered in mist at dawn."
    ),
    "es": (
        "La fotografía muestra a una mujer sonriendo en la playa al atardecer. "
        "Un gato negro duerme sobre el sofá de la sala de estar. "
        "El empleado presentó los documentos necesarios para la contratación. "
        "Los niños juegan en el parque una tarde soleada de domingo. "
        "Por favor envíe el informe financiero antes del fin de semana. "
        "El perro corre detrás de la pelota en el patio de la casa amarilla. "
        "La reunión fue reprogramada para el próximo lunes por la mañana."
    ),
    "de": (
        "Das Foto zeigt eine lächelnde Frau am Strand bei Sonnenuntergang. "
        "Eine schwarze Katze schläft auf dem Sofa im Wohnzimmer. "
        "Der Mitarbeiter reichte alle erforderlichen Unterlagen ein. "
        "Kinder spielen an einem sonnigen Sonntagnachmittag im Park. "
        "Bitte senden Sie den Finanzbericht bis zum Ende der Woche. "
        "Der Hund jagt dem Ball über den Hof des gelben Hauses nach. "
        "Die Besprechung wurde auf nächsten Montagmorgen verschoben."
    ),
    "fr": (
        "La photographie montre une femme souriante sur la plage au coucher du soleil. "
        "Un chat noir dort sur le canapé du salon près de la fenêtre. "
        "L'employé a remis tous les documents nécessaires à l'embauche. "
        "Les enfants jouent dans le parc par un dimanche ensoleillé. "
        "Veuillez envoyer le rapport financier avant la fin de la semaine. "
        "Le chien court après le ballon dans la cour de la maison jaune. "
        "La réunion a été reportée à lundi matin prochain."
    ),
    "zh": (
        "照片显示一位女士在日落时分的海滩上微笑。"
        "一只黑猫睡在客厅的沙发上。"
        "员工提交了入职所需的全部文件。"
        "孩子们在阳光明媚的周日下午在公园里玩耍。"
        "请在本周末之前发送财务报告。"
        "狗在黄色房子的院子里追着球跑。"
        "会议改到下周一上午举行。"
    ),
}

_N = 3  # trigrams
UND = "und"

# Language evidence lives in letters: digits, underscores and punctuation
# (PII numbers, e-mail syntax, markup) are noise shared by every language,
# so they are stripped before n-gram extraction. The perplexity LMs
# (core/perplexity.py, operators/corpus_lm.py) score the same normal form,
# so a caption dense with CPF/phone/CEP numbers is not penalized for
# trigrams the digit-free seed corpora never saw.
_NON_LETTER = re.compile(r"[^\w\s]|[\d_]")


def normalize_for_lm(text: str) -> str:
    """Lowercased letters-only text, whitespace runs collapsed to one space."""
    return " ".join(_NON_LETTER.sub(" ", text.lower()).split())


def _trigrams(text: str) -> List[str]:
    cleaned = normalize_for_lm(text)
    if not cleaned:
        return []
    t = " " + cleaned + " "
    return [t[i : i + _N] for i in range(len(t) - _N + 1)]


def _build_models() -> Dict[str, Dict[str, float]]:
    models = {}
    vocab = set()
    counts = {}
    for lang, corpus in _SEED_CORPORA.items():
        c = Counter(_trigrams(corpus))
        counts[lang] = c
        vocab.update(c)
    v = len(vocab) + 1
    for lang, c in counts.items():
        total = sum(c.values())
        # add-one smoothed log-probs; unseen trigram cost precomputed
        models[lang] = {
            "logp": {g: math.log((n + 1) / (total + v)) for g, n in c.items()},
            "unseen": math.log(1 / (total + v)),
        }
    return models


_MODELS = _build_models()
LANGS = tuple(_MODELS.keys())

# --- vectorized scoring tables ---------------------------------------------
# One id per known trigram; _ADV[g, l] = (logp_l[g] - unseen_l) for seen
# trigrams, 0.0 otherwise — the exact "advantage over the unseen floor"
# the loop below computes, reduced to one fancy-index + column sum.
import numpy as _np  # noqa: E402

_VOCAB = sorted({g for m in _MODELS.values() for g in m["logp"]})
_VOCAB_ID = {g: i for i, g in enumerate(_VOCAB)}
_ADV = _np.zeros((len(_VOCAB), len(LANGS)))
for _l, _lang in enumerate(LANGS):
    _m = _MODELS[_lang]
    for _g, _p in _m["logp"].items():
        _ADV[_VOCAB_ID[_g], _l] = _p - _m["unseen"]


def detect_language(text: Optional[str]) -> str:
    """Most likely language label, or "und" with no evidence (None or
    blank text included)."""
    if not text or not text.strip():
        return UND
    # Script check first: CJK text has near-zero trigram overlap with any
    # small seed profile, but the script itself is decisive evidence.
    # Gate the O(n) per-char python scan behind max(text): a C-speed pass
    # that can only exceed U+4E00 if a CJK (or higher, e.g. emoji)
    # codepoint exists — the overwhelmingly common Latin-text case skips
    # the scan entirely (measured ~45 us/row of the stage's 110).
    if text and max(text) >= "一":
        letters = [c for c in text if c.isalpha()]
        if letters:
            cjk = sum(1 for c in letters if "一" <= c <= "鿿")
            if cjk / len(letters) > 0.30:
                return "zh"
    grams = _trigrams(text)
    if not grams:
        return UND
    # Score each language by its positive evidence only: the log-likelihood
    # ADVANTAGE over the unseen floor, summed across trigrams. Unseen
    # trigrams contribute zero for every language, so corpora of different
    # sizes compare fairly and pure noise yields no winner ("und").
    get = _VOCAB_ID.get
    ids = [i for g in grams if (i := get(g)) is not None]
    if not ids:
        return UND
    scores = _ADV[ids].sum(axis=0)
    best_lang, best_score = UND, 0.0
    for i, lang in enumerate(LANGS):
        if scores[i] > best_score:
            best_lang, best_score = lang, float(scores[i])
    return best_lang
