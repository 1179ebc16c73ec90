"""Heuristic caption quality rules [north-rule addition].

Gopher/C4-style filters (Rae et al. 2021 §A1.1; Raffel et al. 2020 §2.2)
adapted to image-caption text, with caption-scale thresholds. No reference
counterpart; the reference's analogue is its cheap-first stage ordering
(run cheap filters before expensive stages — README.md:1264).

This is the ONLY implementation of the caption rules: the Spark caption
stage (operators/fused.py) calls `drop_reasons` per row inside its pandas
UDF, and the fixture oracle and unit tests call the same function.
(operators/quality_stage.py's heuristic_keep is a separate, SQL-expressible
rule subset over the documents table, not a mirror of these rules.)

Tokenization contract:
tokens = non-empty pieces of text.strip() split on runs of whitespace.
Lines  = text split on "\n"; only lines with non-empty strip() count.

Drop-reason codes are emitted in the fixed order of RULE_ORDER so
array<string> comparisons are deterministic.
"""

from __future__ import annotations

import re
from typing import Any, Dict, List, Optional

from .langid import detect_language
from .patterns import PORTUGUESE_STOP_WORDS
from .perplexity import PPL_THRESHOLD, perplexity

# --- frozen thresholds -----------------------------------------------------
MIN_WORDS = 3
MAX_WORDS = 256
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 14.0
MAX_SYMBOL_RATIO = 0.10          # ('#' chars + '…' chars + '...' runs) / words
MIN_ALPHA_TOKEN_RATIO = 0.70     # tokens containing >=1 letter / tokens
MAX_REPEATED_LINE_RATIO = 0.30   # 1 - distinct/total over non-empty lines
MAX_BULLET_LINE_RATIO = 0.90     # lines starting with a bullet char
MAX_ELLIPSIS_LINE_RATIO = 0.30   # lines ending with ... or …
MIN_STOPWORD_WORDS = 8           # stopword rule applies only at >= this many words
TARGET_LANG = "pt"

RULE_ORDER = (
    "empty", "too_short", "too_long", "word_length", "symbol_ratio",
    "alpha_ratio", "lorem_ipsum", "brace", "repeated_lines", "bullet_lines",
    "ellipsis_lines", "stopword", "lang", "perplexity",
)

_STOPWORDS = frozenset(PORTUGUESE_STOP_WORDS)
_BULLETS = ("-", "*", "•", "‣", "▪")
_ALPHA_RE = re.compile(r"[^\W\d_]", re.UNICODE)


def _tokens(text: str) -> List[str]:
    return [t for t in text.strip().split()] if text and text.strip() else []


def quality_signals(text: Optional[str]) -> Dict[str, Any]:
    """All scalar signals the rules consume (also exported as columns)."""
    if text is None:
        text = ""
    toks = _tokens(text)
    n = len(toks)
    total_len = sum(len(t) for t in toks)
    mean_len = (total_len / n) if n else 0.0
    lower = text.lower()
    symbol_hits = text.count("#") + text.count("…") + len(re.findall(r"\.\.\.", text))
    alpha_toks = sum(1 for t in toks if _ALPHA_RE.search(t))
    lines = [ln.strip() for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    n_lines = len(lines)
    distinct_lines = len(set(lines))
    bullet_lines = sum(1 for ln in lines if ln.startswith(_BULLETS))
    ellipsis_lines = sum(1 for ln in lines if ln.endswith("...") or ln.endswith("…"))
    stop_hits = sum(1 for t in toks if t.lower().strip(".,;:!?") in _STOPWORDS)
    return {
        "word_count": n,
        "mean_word_len": mean_len,
        "symbol_ratio": (symbol_hits / n) if n else 0.0,
        "alpha_ratio": (alpha_toks / n) if n else 0.0,
        "has_lorem": "lorem ipsum" in lower,
        "has_brace": "{" in text,
        "line_count": n_lines,
        "repeated_line_ratio": (1.0 - distinct_lines / n_lines) if n_lines else 0.0,
        "bullet_line_ratio": (bullet_lines / n_lines) if n_lines else 0.0,
        "ellipsis_line_ratio": (ellipsis_lines / n_lines) if n_lines else 0.0,
        "stopword_count": stop_hits,
    }


def drop_reasons(
    text: Optional[str],
    lang: Optional[str] = None,
    ppl: Optional[float] = None,
) -> List[str]:
    """Ordered drop-reason codes; empty list == keep.

    `lang`/`ppl` may be injected (the caption stage computes them once
    per row and passes them in); when None they are computed here.
    """
    if text is None or not text.strip():
        return ["empty"]
    s = quality_signals(text)
    reasons: List[str] = []
    if s["word_count"] < MIN_WORDS:
        reasons.append("too_short")
    if s["word_count"] > MAX_WORDS:
        reasons.append("too_long")
    if not (MIN_MEAN_WORD_LEN <= s["mean_word_len"] <= MAX_MEAN_WORD_LEN):
        reasons.append("word_length")
    if s["symbol_ratio"] > MAX_SYMBOL_RATIO:
        reasons.append("symbol_ratio")
    if s["alpha_ratio"] < MIN_ALPHA_TOKEN_RATIO:
        reasons.append("alpha_ratio")
    if s["has_lorem"]:
        reasons.append("lorem_ipsum")
    if s["has_brace"]:
        reasons.append("brace")
    if s["repeated_line_ratio"] > MAX_REPEATED_LINE_RATIO:
        reasons.append("repeated_lines")
    if s["bullet_line_ratio"] > MAX_BULLET_LINE_RATIO:
        reasons.append("bullet_lines")
    if s["ellipsis_line_ratio"] > MAX_ELLIPSIS_LINE_RATIO:
        reasons.append("ellipsis_lines")
    if s["word_count"] >= MIN_STOPWORD_WORDS and s["stopword_count"] == 0:
        reasons.append("stopword")
    if lang is None:
        lang = detect_language(text)
    if lang != TARGET_LANG:
        reasons.append("lang")
    if ppl is None:
        ppl = perplexity(text)
    if ppl > PPL_THRESHOLD:
        reasons.append("perplexity")
    return reasons
