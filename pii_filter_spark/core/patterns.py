"""PII regex patterns and type priorities (Brazilian-context, HR domain).

Semantics parity with the reference detector configuration
(/root/reference/src/core/constants.py:11-25 for the five patterns,
/root/reference/src/services/regex_service.py:32-39 for type priorities).
Patterns are compiled once at module import — each executor's Python worker
pays the NFA build exactly once per process, never per row or per batch.
"""

from __future__ import annotations

import re
from typing import Dict

# The five regex-stage PII types. Keyed-dict *iteration order* matters: the
# detector scans patterns in this order and overlap resolution relies on a
# stable start-position sort, so ties keep this insertion order (parity with
# reference constants.py:11-25 dict order CPF, RG, EMAIL, TELEFONE, CEP).
PII_PATTERNS: Dict[str, re.Pattern] = {
    # 11-digit CPF, dotted/hyphenated punctuation optional: XXX.XXX.XXX-XX
    "CPF": re.compile(r"\b\d{3}\.?\d{3}\.?\d{3}-?\d{2}\b"),
    # RG identity card: X.XXX.XXX-D or XX.XXX.XXX-D, check digit may be X
    "RG": re.compile(r"\b\d{1,2}\.\d{3}\.\d{3}-[0-9X]\b", re.IGNORECASE),
    # e-mail, RFC-ish: alnum-bounded local part, dotted domain, 2+ letter TLD
    "EMAIL": re.compile(
        r"\b[a-zA-Z0-9](?:[a-zA-Z0-9._%+-]*[a-zA-Z0-9])?"
        r"@[a-zA-Z0-9](?:[a-zA-Z0-9.-]*[a-zA-Z0-9])?\.[a-zA-Z]{2,}\b",
        re.IGNORECASE,
    ),
    # Brazilian phone: optional +55, 2-digit area code, 4-5 + 4 digit number
    "TELEFONE": re.compile(r"(?:\+?55\s?)?\(?\d{2}\)?\s?\d{4,5}[-\s]?\d{4}"),
    # postal code XXXXX-XXX, hyphen optional
    "CEP": re.compile(r"\b\d{5}-?\d{3}\b"),
}

# Overlap-resolution priority: lower wins. Unlisted types default to 99.
# (reference regex_service.py:32-39)
TYPE_PRIORITY: Dict[str, int] = {
    "CPF": 1,
    "EMAIL": 1,
    "RG": 2,
    "CONTA_BANCARIA": 2,
    "TELEFONE": 3,
    "CEP": 4,
}

DEFAULT_PRIORITY = 99

# Portuguese stop words (reference constants.py:53-81); also used by the
# C4-style minimum-stopword quality rule and the language-ID tie-breaker.
PORTUGUESE_STOP_WORDS = [
    "a", "o", "e", "de", "do", "da", "em", "um", "uma", "que", "para",
    "com", "não", "se", "os", "as", "por", "no", "na", "dos", "das",
    "como", "mais", "mas", "ao", "pelo", "pela",
]

# Placeholder shape shared by every masking stage: "[{TYPE}_{n}]".
PLACEHOLDER_RE = re.compile(r"\[[A-Z_]+_\d+\]")


def make_placeholder(pii_type: str, n: int) -> str:
    return f"[{pii_type}_{n}]"
