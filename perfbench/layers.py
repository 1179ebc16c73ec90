"""Single-thread timings and ratios of the public `core` functions.

Each layer is timed over the whole slice in one loop, with its inputs
(the shared word set, the detections) computed beforehand, so a layer's
time covers that layer's function alone. `core.scrub_us` is the whole
detect + substitute path that the fused stage runs per caption.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time
from typing import Callable, Dict, List, Sequence

from pii_filter_spark.core import detect
from pii_filter_spark.core.langid import detect_language
from pii_filter_spark.core.ner_dictionary import find_entities, text_words
from pii_filter_spark.core.perplexity import perplexity
from pii_filter_spark.core.quality import drop_reasons
from pii_filter_spark.core.sensitive import find_sensitive
from pii_filter_spark.core.toxicity import find_toxic

REPEATS = 3
IMPORT_PROBE = (
    "import time; t = time.perf_counter(); "
    "import pii_filter_spark.operators.fused; "
    "print((time.perf_counter() - t) * 1000)"
)


def _us_per_row(fn: Callable[[int], object], n: int) -> float:
    """Median over REPEATS of the µs per row of fn(i) for i in range(n)."""
    runs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        for i in range(n):
            fn(i)
        runs.append((time.perf_counter() - t0) * 1e6 / n)
    return statistics.median(runs)


def core_metrics(texts: Sequence[str]) -> Dict[str, float]:
    n = len(texts)
    words = [text_words(t) for t in texts]
    regex = [detect.resolve_regex_overlaps(detect.find_regex_matches(t)) for t in texts]
    ner = [find_entities(t, w) for t, w in zip(texts, words)]
    ner_kept = [detect.drop_overlapping(c, r) for c, r in zip(ner, regex)]
    tox = [detect.drop_overlapping(find_toxic(t, w), r + k)
           for t, w, r, k in zip(texts, words, regex, ner_kept)]
    sens = [find_sensitive(t, w) for t, w in zip(texts, words)]
    sens_kept = [detect.drop_overlapping(c, r + k + x)
                 for c, r, k, x in zip(sens, regex, ner_kept, tox)]
    dets = [detect.detect_all(t) for t in texts]
    langs = [detect_language(t) for t in texts]
    ppls = [perplexity(t) for t in texts]
    reasons = [drop_reasons(t, lg, pp) for t, lg, pp in zip(texts, langs, ppls)]
    valid = sum(len(detect.find_regex_matches(t, validate=True)) for t in texts)
    raw = sum(len(detect.find_regex_matches(t, validate=False)) for t in texts)
    return {
        "core.tokenize_us": _us_per_row(lambda i: text_words(texts[i]), n),
        "core.regex_us": _us_per_row(
            lambda i: detect.resolve_regex_overlaps(detect.find_regex_matches(texts[i])), n),
        "core.ner_us": _us_per_row(lambda i: find_entities(texts[i], words[i]), n),
        "core.toxicity_us": _us_per_row(lambda i: find_toxic(texts[i], words[i]), n),
        "core.sensitive_us": _us_per_row(lambda i: find_sensitive(texts[i], words[i]), n),
        "core.substitute_us": _us_per_row(lambda i: detect.substitute(texts[i], dets[i]), n),
        "core.scrub_us": _us_per_row(lambda i: detect.scrub_text(texts[i]), n),
        "core.langid_us": _us_per_row(lambda i: detect_language(texts[i]), n),
        "core.perplexity_us": _us_per_row(lambda i: perplexity(texts[i]), n),
        "core.rules_us": _us_per_row(
            lambda i: drop_reasons(texts[i], langs[i], ppls[i]), n),
        "core.regex_valid_ratio": valid / raw,
        "core.ner_kept_ratio": _ratio(ner_kept, ner),
        "core.sensitive_kept_ratio": _ratio(sens_kept, sens),
        "core.detections_per_row": sum(map(len, dets)) / n,
        "core.kept_frac": sum(1 for r in reasons if not r) / n,
    }


def _ratio(kept: List[list], candidates: List[list]) -> float:
    """Share of candidates kept; 1.0 when there were none to lose."""
    total = sum(map(len, candidates))
    return sum(map(len, kept)) / total if total else 1.0


def import_ms(root: str) -> float:
    """Median fresh-interpreter import time of operators.fused, in ms."""
    env = dict(os.environ, PYTHONPATH=root)
    runs = []
    for _ in range(REPEATS):
        out = subprocess.run([sys.executable, "-c", IMPORT_PROBE], env=env,
                             capture_output=True, text=True, check=True, cwd=root)
        runs.append(float(out.stdout.strip().splitlines()[-1]))
    return statistics.median(runs)
