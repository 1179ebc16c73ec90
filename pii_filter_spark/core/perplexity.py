"""Character-trigram language-model perplexity scoring [north-rule addition].

Stands in for the KenLM n-gram perplexity stage named by the north rule
(no kenlm wheel in this container). Same mathematical object at small scale: a
backoff-free add-k-smoothed character trigram LM trained deterministically
at import time on the embedded Portuguese seed corpus, scoring
ppl(text) = exp(-mean log P(c_i | c_{i-2} c_{i-1})). High-perplexity
captions (keyboard mash, wrong alphabet, symbol soup) are dropped by the
quality stage; the threshold is calibrated on fixtures and frozen here.

The trained table is a plain dict built once per Python worker at module
import (shipped via --py-files) — the moral equivalent of broadcasting a
KenLM binary to executors.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Optional

from .langid import _SEED_CORPORA, normalize_for_lm

_K = 0.1  # add-k smoothing
_BOS = "\x02"

# Train on Portuguese seed text (the pipeline's target language).
_TRAIN = _SEED_CORPORA["pt"]

# Frozen drop threshold: calibrated so clean Portuguese captions score
# far below and non-linguistic noise far above (see tests/test_quality.py).
PPL_THRESHOLD = 31.0


# Like the langid stage, the LM scores LETTERS, through langid's normal
# form (normalize_for_lm, also used by operators/corpus_lm.py so the
# corpus-trained and seed-trained scores compare). Symbol-only junk then
# normalizes to "" -> ppl 0.0; the symbol_ratio / alpha_ratio quality
# rules own that failure mode instead.


def _train():
    text = _BOS + _BOS + normalize_for_lm(_TRAIN)
    tri = Counter()
    bi = Counter()
    charset = set(text)
    for i in range(2, len(text)):
        ctx = text[i - 2 : i]
        tri[(ctx, text[i])] += 1
        bi[ctx] += 1
    return tri, bi, len(charset) + 1


_TRI, _BI, _V = _train()


# --- dense-table vectorization ---------------------------------------------
# The alphabet after normalization is tiny (~40 symbols), so the whole
# add-k model densifies into an A³ float64 array (<1 MB). Scoring is then
# translate → frombuffer → one fancy-index + mean per text — ~20× the
# char-loop throughput. Any character outside the training charset maps to
# one OOV code, exactly reproducing the dict .get(…, 0) semantics (count 0
# for both the trigram and its context).
_ALPHABET = sorted(set(_BOS + _BOS + normalize_for_lm(_TRAIN)))
_A = len(_ALPHABET) + 1          # +1 = shared OOV bucket
_OOV = _A - 1
_CODE = {c: i for i, c in enumerate(_ALPHABET)}


class _TransTab(dict):
    def __missing__(self, key: int) -> int:
        return _OOV


_TAB = _TransTab({ord(c): i for c, i in _CODE.items()})

import numpy as _np  # noqa: E402  (after model training on purpose)

_NUM = _np.zeros((_A, _A, _A))
_DEN = _np.zeros((_A, _A))
for (_ctx, _ch), _cnt in _TRI.items():
    _NUM[_CODE[_ctx[0]], _CODE[_ctx[1]], _CODE[_ch]] = _cnt
for _ctx, _cnt in _BI.items():
    _DEN[_CODE[_ctx[0]], _CODE[_ctx[1]]] = _cnt
_LOGP = _np.log((_NUM + _K) / (_DEN[:, :, None] + _K * _V))


def perplexity(text: Optional[str]) -> float:
    """Char-trigram perplexity; +inf-ish high for empty input is avoided by
    returning the 0.0 sentinel for None or blank text (empty text is
    handled by the 'empty' quality rule, not the perplexity rule)."""
    if not text or not text.strip():
        return 0.0
    t = _BOS + _BOS + normalize_for_lm(text)
    if len(t) <= 2:
        return 0.0
    codes = _np.frombuffer(t.translate(_TAB).encode("latin-1"), dtype=_np.uint8)
    lp = _LOGP[codes[:-2], codes[1:-1], codes[2:]]
    return float(math.exp(-lp.mean()))
