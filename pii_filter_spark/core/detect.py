"""Unified PII/toxicity detection, precedence resolution, and substitution.

This module freezes the engine's scrub semantics. The reference runs three
sequential text-mutating stages (regex → NER → LLM), but its own
correctness oracle runs all detectors on the RAW text and resolves
precedence by span overlap to avoid index shift
(/root/reference/tests/unit/test_pipeline_integration.py:49-143). We adopt
that oracle semantics as the single-pass physical plan: detect everything
on original offsets, resolve, substitute once. This also fuses three Arrow
round-trips into one pandas-UDF stage (see operators/fused.py).

Frozen convention (parity citations into /root/reference):
 1. Regex scan of the five patterns in declared order, candidates
    validated algorithmically (regex_service.py:45-75; validators.py:95-131).
 2. Regex-internal overlap resolution: stable sort by start; group every
    subsequent match whose start lies before the END OF THE FIRST match of
    the group (the group anchor is NOT extended — regex_service.py:89-102);
    keep the minimum-priority-number match of the group, first-wins on ties
    (regex_service.py:104-108 via min()).
 3. Dictionary-NER candidates with noise guards + longest-match filter
    (ner_dictionary.py over rules.py; ner_service.py:95-216), then DROP
    any that overlap a surviving regex span
    (test_pipeline_integration.py:101-116).
 4. Toxicity word hits, dropped if overlapping any surviving regex/NER span
    (north-rule addition; same precedence rule as the reference's third
    stage, test_pipeline_integration.py:122-139).
 4b. Sensitive-topic candidates (the reference's 19-category LLM stage,
    deterministic grammars in sensitive.py), dropped if overlapping any
    surviving regex/NER/toxicity span — the reference's lowest-priority
    stage (test_pipeline_integration.py:117-139). Its right-to-left
    numbering quirk (local_llm_service.py:185-198) is normalized to the
    L2R convention of every other stage.
 5. One substitution pass: placeholders "[{TYPE}_{n}]" numbered
    left-to-right per type, the output joined left-to-right from the
    original text's slices between the spans (the reference splices
    right-to-left, regex_service.py:115-161). Mapping spans record ORIGINAL
    text offsets (the regex-stage convention, regex_service.py:146; we
    normalize the reference NER stage's post-substitution-span asymmetry,
    ner_service.py:273, in favor of original offsets).
Overlap predicate everywhere: a.start < b.end AND a.end > b.start
(test_pipeline_integration.py:49-55).
"""

from __future__ import annotations

from bisect import bisect_left
from itertools import accumulate
from typing import Any, Dict, Iterable, List, Sequence, Tuple

from .ner_dictionary import find_entities
from .patterns import DEFAULT_PRIORITY, PII_PATTERNS, TYPE_PRIORITY, make_placeholder
from .rules import Detection, text_words
from .sensitive import find_sensitive
from .toxicity import find_toxic
from .validators import validate_pii

# Region-scan acceleration for the regex stage (round-3 VERDICT #7).
# Every one of the five PII patterns must contain a digit or '@', so the
# five NFA scans only need to run around digit/@ clusters instead of over
# the whole text — measured 72 -> 28 us/row on sf0.01 captions with
# byte-identical candidates. The seed pattern matches maximal clusters of
# digits/'@' plus their legal internal separators; _DIGIT_W covers every
# non-digit prefix a digit pattern allows ("+55 " is 4 chars). EMAIL is
# scanned around each '@' with an RFC-sized window (local part <= 64,
# domain <= 255), so any RFC-valid address is found exactly; only
# longer-than-RFC strings could differ from a whole-text scan.
# A big combined alternation was measured SLOWER (119 us/row) — Python
# re alternations retry every branch per position.
_SEED_RE = None  # compiled lazily to keep import order simple
_DIGIT_W = 8
_EMAIL_W = 320


def _scan_regions(text: str) -> List[List[int]]:
    global _SEED_RE
    if _SEED_RE is None:
        import re

        _SEED_RE = re.compile(r"[\d@](?:[\d@.\-\s()+]*[\d@])?")
    n = len(text)
    regions: List[List[int]] = []
    for m in _SEED_RE.finditer(text):
        s, e = m.start() - _DIGIT_W, min(n, m.end() + _DIGIT_W)
        if s < 0:
            s = 0
        if regions and s <= regions[-1][1]:
            if e > regions[-1][1]:
                regions[-1][1] = e
        else:
            regions.append([s, e])
    return regions


def find_regex_matches(text: str, validate: bool = True) -> List[Detection]:
    """Scan the five PII patterns in declared order; validated candidates.

    Candidates are buffered per type and concatenated in PII_PATTERNS
    declaration order, so the output is byte-identical to the naive
    declared-order whole-text scan. This matters beyond min() ties:
    resolve_regex_overlaps anchors each overlap group on the FIRST
    candidate at a given start after a stable sort, and the anchor's end
    defines the group window — emitting EMAIL after TELEFONE/CEP (an
    earlier version did) made a later-listed pattern the anchor on
    crafted inputs and produced two OVERLAPPING survivors where the
    reference scan produces one.
    """
    regions = _scan_regions(text)
    if not regions:
        return []
    per_type: Dict[str, List[Detection]] = {}

    def _emit(pii_type, pattern, bounds):
        out = per_type.setdefault(pii_type, [])
        for rs, rend in bounds:
            for m in pattern.finditer(text, rs, rend):
                value = m.group(0)
                if validate and not validate_pii(pii_type, value):
                    continue
                out.append(
                    {
                        "type": pii_type,
                        "value": value,
                        "start": m.start(),
                        "end": m.end(),
                    }
                )

    for pii_type, pattern in PII_PATTERNS.items():
        if pii_type != "EMAIL":
            _emit(pii_type, pattern, regions)
    at = text.find("@")
    if at != -1:
        n = len(text)
        email_regions: List[List[int]] = []
        while at != -1:
            s, e = max(0, at - _EMAIL_W), min(n, at + _EMAIL_W)
            if email_regions and s <= email_regions[-1][1]:
                if e > email_regions[-1][1]:
                    email_regions[-1][1] = e
            else:
                email_regions.append([s, e])
            at = text.find("@", at + 1)
        _emit("EMAIL", PII_PATTERNS["EMAIL"], email_regions)
    found: List[Detection] = []
    for pii_type in PII_PATTERNS:
        found.extend(per_type.get(pii_type, []))
    return found


def resolve_regex_overlaps(matches: List[Detection]) -> List[Detection]:
    """First-match-anchored overlap grouping, min-priority survivor.

    Exact parity with regex_service.py:77-113 including the quirk that the
    group window is the first match's end (not the running max end).
    """
    if not matches:
        return []
    matches = sorted(matches, key=lambda d: d["start"])  # stable
    survivors: List[Detection] = []
    i = 0
    n = len(matches)
    while i < n:
        anchor = matches[i]
        window_end = anchor["end"]
        j = i + 1
        group = [anchor]
        while j < n and matches[j]["start"] < window_end:
            group.append(matches[j])
            j += 1
        survivors.append(
            min(group, key=lambda d: TYPE_PRIORITY.get(d["type"], DEFAULT_PRIORITY))
        )
        i = j
    return survivors


def drop_overlapping(
    candidates: Iterable[Detection], winners: Sequence[Detection]
) -> List[Detection]:
    """Keep candidates that overlap none of the winners' spans.

    A candidate overlaps some winner iff, among the winners that start
    before the candidate ends, the largest end lies after the candidate's
    start: one bisect into the winners' sorted starts plus a prefix
    maximum of their ends, O((n + m) log m) instead of O(n * m).
    """
    spans = sorted((w["start"], w["end"]) for w in winners)
    starts = [s for s, _ in spans]
    max_end = list(accumulate((e for _, e in spans), max))
    kept = []
    for c in candidates:
        k = bisect_left(starts, c["end"])
        if not k or max_end[k - 1] <= c["start"]:
            kept.append(c)
    return kept


def detect_all(text: str, with_sensitive: bool = True) -> List[Detection]:
    """Full precedence-resolved detection set, sorted by start offset."""
    words = text_words(text)  # one tokenization shared by all gated stages
    regex_hits = resolve_regex_overlaps(find_regex_matches(text))
    ner_hits = drop_overlapping(find_entities(text, words), regex_hits)
    tox_hits = drop_overlapping(find_toxic(text, words), regex_hits + ner_hits)
    sens_hits: List[Detection] = []
    if with_sensitive:
        sens_hits = drop_overlapping(
            find_sensitive(text, words), regex_hits + ner_hits + tox_hits
        )
    final = regex_hits + ner_hits + tox_hits + sens_hits
    final.sort(key=lambda d: d["start"])
    return final


def substitute(text: str, detections: List[Detection]) -> Tuple[str, List[Dict[str, Any]]]:
    """Single left-to-right substitution pass with per-type L2R numbering,
    linear in len(text) (the spans must not overlap).

    Returns (scrubbed_text, mappings) where each mapping is
    {placeholder, original_value, type, span_start, span_end} with spans in
    ORIGINAL text offsets, mappings ordered by span_start ascending.
    """
    if not detections:
        return text, []
    ordered = sorted(detections, key=lambda d: d["start"])
    counters: Dict[str, int] = {}
    mappings: List[Dict[str, Any]] = []
    for det in ordered:
        t = det["type"]
        counters[t] = counters.get(t, 0) + 1
        mappings.append(
            {
                "placeholder": make_placeholder(t, counters[t]),
                "original_value": det["value"],
                "type": t,
                "span_start": det["start"],
                "span_end": det["end"],
            }
        )
    parts, pos = [], 0
    for mp in mappings:
        parts += (text[pos:mp["span_start"]], mp["placeholder"])
        pos = mp["span_end"]
    parts.append(text[pos:])
    return "".join(parts), mappings


def scrub_text(text: str) -> Tuple[str, List[Dict[str, Any]]]:
    """Detect + resolve + substitute for one caption. None-safe."""
    if not text:
        return text or "", []
    return substitute(text, detect_all(text))


def scrub_batch(texts: Iterable[Any]) -> List[Tuple[str, List[Dict[str, Any]]]]:
    """Batch entry point used by the caption-stage UDFs in operators/fused.py."""
    out = []
    for t in texts:
        if t is None or not isinstance(t, str):
            out.append(("" if t is None else str(t), []))
        else:
            out.append(scrub_text(t))
    return out
