"""Toxicity word-list scrubbing [north-rule addition].

No counterpart in the reference; the north rule mandates a word-list-backed
toxicity scrub as a batched column transform. Matches are emitted as
detections of type TOXICO and flow through the same precedence/substitution
machinery as PII (detect.py), so a caption like "seu idiota" scrubs to
"seu [TOXICO_1]". The word list is a module constant (one copy per Python
worker process); a production deployment would broadcast a curated list.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List

from .rules import Rule, alternation, gate_words, scan, text_words

# Mild demonstration list (pt + en). Word-boundary, case-insensitive.
TOXIC_WORDS = (
    "idiota", "imbecil", "estúpido", "estúpida", "burro", "burra",
    "maldito", "maldita", "otário", "otária", "palhaço", "palhaça",
    "vagabundo", "vagabunda", "desgraçado", "desgraçada", "cretino",
    "cretina", "canalha", "nojento", "nojenta", "lixo humano",
    "stupid", "idiot", "moron", "dumbass", "scumbag",
)

TOXIC_TYPE = "TOXICO"

_PATTERN = re.compile(
    r"\b(?:" + alternation(TOXIC_WORDS, re.escape) + r")\b", re.IGNORECASE)

# gated on the word list, so the alternation scan is skipped on clean
# texts (the overwhelmingly common case)
RULES = [Rule(TOXIC_TYPE, _PATTERN, 0, gate_words(TOXIC_WORDS))]


def find_toxic(text: str, words: frozenset | None = None) -> List[Dict[str, Any]]:
    """All toxic-word occurrences as {type, value, start, end} dicts."""
    if words is None:
        words = text_words(text)
    return scan(RULES, text, words)
