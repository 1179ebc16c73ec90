"""Gated rule scanning shared by the grammar detectors.

Dictionary NER (ner_dictionary.py), sensitive topics (sensitive.py) and
toxicity (toxicity.py) are each a table of `Rule`s run through `scan`,
then filtered by `longest_match`. A rule's gate is checked before its
pattern runs, so a text that opens no gate costs one tokenization plus a
few set probes, and a backtracking-prone grammar only scans texts that
carry its own anchor ("Banco Abcd Abcd ..." runs the ORG prefix grammar,
not the ORG suffix grammars). A gate is either

  * a frozenset of lowercase words, tested against `text_words(text)`
    (computed once per text and shared by every detector), or
  * a compiled symbol regex, searched at most once per text.

A gate is meant to be a necessary condition: whenever its pattern matches,
the text holds one of the gate words as a whole \\w+ token, or the symbol
regex matches. Words are case-folded the way re.IGNORECASE compares them
(`fold`), so "ſtupid" opens the "stupid" gate. One known limit:
sensitive.py documents which of its anchor-word gates are heuristics
rather than necessary conditions.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Dict, Iterable, List, NamedTuple, Union

_WORD_RE = re.compile(r"\w+")
# The characters re.IGNORECASE matches to a gate-vocabulary letter that
# str.lower() does not turn into it: dotless ı and long ſ are extra
# equivalences of i and s, and "İ".lower() is "i" plus a combining dot.
# tests/test_detect.py checks the table against every code point.
_FOLD = str.maketrans("İıſ", "iis")
_FOLD_CHARS = re.compile("[İıſ]")

Detection = Dict[str, Any]  # {type, value, start, end}


class Rule(NamedTuple):
    type: str
    pattern: re.Pattern
    group: int  # the reported group; 0 = the whole match
    gate: Union[frozenset, re.Pattern]


def fold(text: str) -> str:
    """Lowercase text as re.IGNORECASE compares it (see _FOLD). Keeps the
    \\w+ tokens: İ is the one character str.lower() lengthens. The search
    first is cheaper than always translating, which would double the cost
    of text_words on captions without those characters."""
    if _FOLD_CHARS.search(text):
        text = text.translate(_FOLD)
    return text.lower()


def text_words(text: str) -> frozenset:
    """Folded \\w+ token set: the word-gate key of every detector."""
    return frozenset(_WORD_RE.findall(fold(text)))


def gate_words(entries: Iterable[str]) -> frozenset:
    """One gate word per vocabulary entry: its longest \\w+ word, folded.

    Every word of a literal phrase is a whole token of any text the phrase
    matches, and the longest one is usually the rarest ("key account"
    gates on "account": "key" and "data" fire on most documents).
    """
    return frozenset(max(_WORD_RE.findall(fold(e)), key=len) for e in entries)


def alternation(entries: Iterable[str], form: Callable[[str], str]) -> str:
    """Regex alternation of the entries, longest entry first, each written
    as form(entry), so "coordenadora" is tried before "coordenador"."""
    return "|".join(form(e) for e in sorted(entries, key=len, reverse=True))


def scan(rules: Iterable[Rule], text: str, words: frozenset) -> List[Detection]:
    """Every non-empty reported group of every rule whose gate the text
    passes, as {type, value, start, end} dicts in rule then match order."""
    symbol_hits: Dict[re.Pattern, bool] = {}
    found: List[Detection] = []
    for rule in rules:
        gate = rule.gate
        if isinstance(gate, frozenset):
            if words.isdisjoint(gate):
                continue
        else:
            if gate not in symbol_hits:
                symbol_hits[gate] = gate.search(text) is not None
            if not symbol_hits[gate]:
                continue
        g = rule.group
        for m in rule.pattern.finditer(text):
            value = m.group(g)
            if value:
                found.append({"type": rule.type, "value": value,
                              "start": m.start(g), "end": m.end(g)})
    return found


def longest_match(candidates: List[Detection]) -> List[Detection]:
    """Longest-match overlap filter (spaCy filter_spans semantics,
    reference ner_service.py:194-216): sort by (start, -length), stable,
    then keep each candidate that begins at or after the end of the last
    kept one."""
    candidates.sort(key=lambda c: (c["start"], -(c["end"] - c["start"])))
    kept: List[Detection] = []
    frontier = -1
    for cand in candidates:
        if cand["start"] >= frontier:
            kept.append(cand)
            frontier = cand["end"]
    return kept
