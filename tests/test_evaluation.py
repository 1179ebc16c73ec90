"""Span-overlap F1 evaluation (reference M1/M2) + restoration stage tests."""

import pandas as pd
import pytest

from pii_filter_spark.operators.evaluation import (
    global_f1,
    greedy_span_match,
    span_f1_counts,
)
from pii_filter_spark.sources.synth import gen_pandas
from tests.oracle import reference_semantics as oracle


# --- pure matcher semantics (reference test_utils.py:59-111) ---------------

def test_greedy_exact_and_overlap():
    assert greedy_span_match([("CPF", 0, 5)], [("CPF", 0, 5)]) == (1, 0, 0)
    # overlap is enough
    assert greedy_span_match([("CPF", 3, 8)], [("CPF", 0, 5)]) == (1, 0, 0)
    # touching but not overlapping (a.start < b.end and a.end > b.start fails)
    assert greedy_span_match([("CPF", 5, 8)], [("CPF", 0, 5)]) == (0, 1, 1)


def test_greedy_type_must_match():
    assert greedy_span_match([("EMAIL", 0, 5)], [("CPF", 0, 5)]) == (0, 1, 1)


def test_greedy_one_to_one_consumption():
    # one detection cannot satisfy two golden spans
    det = [("CPF", 0, 10)]
    gold = [("CPF", 0, 5), ("CPF", 5, 10)]
    assert greedy_span_match(det, gold) == (1, 0, 1)
    # two detections, two golden
    det = [("CPF", 0, 5), ("CPF", 5, 10)]
    assert greedy_span_match(det, gold) == (2, 0, 0)


def test_greedy_empty_sides():
    assert greedy_span_match([], []) == (0, 0, 0)
    assert greedy_span_match([("X", 0, 1)], []) == (0, 1, 0)
    assert greedy_span_match([], [("X", 0, 1)]) == (0, 0, 1)


# --- distributed counts + rollup -------------------------------------------

def test_span_f1_spark(spark):
    det = spark.createDataFrame(
        [(1, "CPF", 0, 5), (1, "CPF", 20, 25), (2, "EMAIL", 0, 5), (3, "RG", 0, 4)],
        "doc_id long, type string, span_start long, span_end long",
    )
    gold = spark.createDataFrame(
        [(1, "CPF", 2, 7), (2, "EMAIL", 10, 15), (4, "CEP", 0, 3)],
        "doc_id long, type string, span_start long, span_end long",
    )
    counts = {r.doc_id: (r.tp, r.fp, r.fn) for r in span_f1_counts(det, gold).collect()}
    assert counts[1] == (1, 1, 0)   # one overlap-match, one extra detection
    assert counts[2] == (0, 1, 1)   # no overlap
    assert counts[3] == (0, 1, 0)   # detection with no golden
    assert counts[4] == (0, 0, 1)   # golden with no detection
    row = global_f1(span_f1_counts(det, gold)).collect()[0]
    assert (row.tp, row.fp, row.fn) == (1, 3, 2)
    assert row.precision == pytest.approx(0.25)
    assert row.recall == pytest.approx(1 / 3)
    assert row.f1 == pytest.approx(2 * 0.25 * (1 / 3) / (0.25 + 1 / 3))


def test_global_f1_zero_division(spark):
    empty = spark.createDataFrame(
        [(1, 0, 0, 0)], "doc_id long, tp long, fp long, fn long"
    )
    row = global_f1(empty).collect()[0]
    assert (row.precision, row.recall, row.f1) == (0.0, 0.0, 0.0)


# --- restoration round-trip -------------------------------------------------

def test_restore_stage_roundtrip(spark):
    from pii_filter_spark.operators.restore_stage import restore_stage
    from pii_filter_spark.operators.fused import scrub_stage

    pdf = gen_pandas(200, seed=123)[["image_id", "caption"]]
    df = spark.createDataFrame(pdf).repartition(8)
    out = restore_stage(scrub_stage(df)).select(
        "image_id", "caption", "restored_caption", "restore_ok"
    )
    bad = [
        r for r in out.collect()
        if r.restored_caption != r.caption or not r.restore_ok
    ]
    assert bad == [], bad[:3]


def test_restore_matches_reference_oracle_scrub(spark):
    """Restoring the oracle's own scrub output reproduces the original."""
    from pii_filter_spark.core.restore import restore_text

    pdf = gen_pandas(100, seed=7)["caption"]
    for cap in pdf:
        scrubbed, maps = oracle.scrub(cap)
        assert restore_text(scrubbed, maps) == cap
