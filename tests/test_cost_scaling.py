"""Cost-scaling properties of the per-caption core layers.

A caption stage runs each layer once per row, so one very long caption
must cost about its length times the per-character cost of a short one;
a superlinear layer turns a single 640 kB caption into a stuck task. Each
check compares the min-of-3 cost per character at two sizes 64x (or 16x)
apart and allows 3x growth, where a quadratic scan grows 64x (or 16x).
"""

import time

import numpy as np
import pytest

from pii_filter_spark.core.detect import scrub_text
from pii_filter_spark.core.langid import detect_language
from pii_filter_spark.core.perplexity import perplexity
from pii_filter_spark.core.quality import drop_reasons
from pii_filter_spark.sources.synth import make_caption

MAX_GROWTH = 3.0


def _captions(n_chars: int) -> str:
    """The first n_chars of space-joined synthetic captions."""
    rng = np.random.default_rng(3)
    parts, total = [], 0
    while total < n_chars:
        parts.append(make_caption(rng))
        total += len(parts[-1]) + 1
    return " ".join(parts)[:n_chars]


def _us_per_char(fn, text: str) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        fn(text)
        best = min(best, time.perf_counter() - t0)
    return best * 1e6 / len(text)


def _drop_reasons_only(text: str):
    # language and perplexity are their own layers, timed on their own
    return drop_reasons(text, "pt", 10.0)


@pytest.mark.parametrize(
    "fn", [scrub_text, detect_language, perplexity, _drop_reasons_only],
    ids=["scrub_text", "detect_language", "perplexity", "drop_reasons"])
def test_cost_per_char_is_flat_from_10kb_to_640kb(fn):
    small = _us_per_char(fn, _captions(10_000))
    large = _us_per_char(fn, _captions(640_000))
    assert large < MAX_GROWTH * small, (small, large)


def test_org_prefix_run_scrubs_in_linear_time():
    """A long capitalized run behind an ORG prefix word must not open the
    ORG suffix grammars, which rescan the run from every word."""
    small = _us_per_char(scrub_text, "Banco Abcd " * 186)
    large = _us_per_char(scrub_text, "Banco Abcd " * 2979)
    assert large < MAX_GROWTH * small, (small, large)
