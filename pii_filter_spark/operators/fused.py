"""The caption stage: one Arrow-batched pandas UDF per caption batch.

Every per-caption decision — language ID, perplexity, the quality rules
(core/quality.py) and the PII/toxicity scrub (core/detect.py) — runs in
Python on the frozen core semantics; the JVM only scans, projects and
writes. The operators layer holds no rule logic of its own.

Three stage functions, each ONE pandas UDF reading only the `caption`
column, plus `part_id` when counting (Catalyst prunes the MB-scale
`bytes` column away):

  * quality_stage       adds lang, ppl, drop_reasons, keep
  * scrub_stage         adds scrubbed_caption, pii_masked, scrub_count
  * fused_quality_scrub adds both sets — the production path
                        (pipeline.transform) and `entry()`.

scrub_stage(quality_stage(df)) yields the same columns and values as
fused_quality_scrub(df) (tests/test_spark_stages.py). Pattern, dictionary
and model state compile once per Python worker at module import.

Counting: given a PartCounts accumulator, fused_quality_scrub's UDF also
reads `part_id` and adds each Arrow batch's per-part counts and per-layer
ms to it (pipeline.run_pipeline's manifest). The counts are exact because
Spark merges a result task's update once, from its first successful
attempt: this holds while the counted plan has no Exchange.
"""

from __future__ import annotations

import time
from collections import Counter

import pandas as pd
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.detect import scrub_batch
from ..core.langid import detect_language
from ..core.perplexity import perplexity
from ..core.quality import drop_reasons

MAPPING_TYPE = StructType(
    [
        StructField("placeholder", StringType()),
        StructField("original_value", StringType()),
        StructField("type", StringType()),
        StructField("span_start", IntegerType()),
        StructField("span_end", IntegerType()),
    ]
)

_QUALITY_FIELDS = [
    StructField("lang", StringType()),
    StructField("ppl", DoubleType()),
    StructField("drop_reasons", ArrayType(StringType())),
    StructField("keep", BooleanType()),
]
_SCRUB_FIELDS = [
    StructField("scrubbed_caption", StringType()),
    StructField("pii_masked", ArrayType(MAPPING_TYPE)),
]


def _quality_columns(captions: pd.Series) -> dict:
    langs, ppls, reasons = [], [], []
    for t in captions:
        if isinstance(t, str):
            lg, pp = detect_language(t), perplexity(t)
        else:
            t, lg, pp = None, "und", 0.0
        langs.append(lg)
        ppls.append(pp)
        reasons.append(drop_reasons(t, lg, pp))
    return {
        "lang": langs,
        "ppl": ppls,
        "drop_reasons": reasons,
        "keep": [len(r) == 0 for r in reasons],
    }


def _scrub_columns(captions: pd.Series) -> dict:
    scrubbed = scrub_batch(captions)
    return {
        "scrubbed_caption": [r[0] for r in scrubbed],
        "pii_masked": [r[1] for r in scrubbed],
    }


_LAYERS = {
    "quality": (_QUALITY_FIELDS, _quality_columns),
    "scrub": (_SCRUB_FIELDS, _scrub_columns),
}


class PartCounts(AccumulatorParam):
    """Key-by-key sum of dicts: the accumulator param of the counting UDF."""

    def zero(self, value):
        return {}

    def addInPlace(self, value1, value2):
        for k, n in value2.items():
            value1[k] = value1.get(k, 0) + n
        return value1


def _fold_counts(parts: pd.Series, cols: dict, ms: dict) -> dict:
    """One Arrow batch as accumulator terms: (part, field) and
    (part, "drop", reason) row counts, ("layer_ms", layer) times."""
    c = Counter({("layer_ms", layer): t for layer, t in ms.items()})
    for p, keep, reasons, masked in zip(
        parts.tolist(), cols["keep"], cols["drop_reasons"], cols["pii_masked"]
    ):
        c[p, "rows_in"] += 1
        c[p, "rows_kept" if keep else "rows_dropped"] += 1
        c[p, "scrub_count"] += len(masked)
        for r in reasons:
            c[p, "drop", r] += 1
    return dict(c)


def part_counts(value: dict, part: int) -> dict:
    """One part's manifest counts from a PartCounts value; drop_reason_counts
    holds the non-zero reasons, sorted."""
    out = {f: value.get((part, f), 0)
           for f in ("rows_in", "rows_kept", "rows_dropped", "scrub_count")}
    out["drop_reason_counts"] = dict(sorted(
        (k[2], n) for k, n in value.items() if len(k) == 3 and k[0] == part))
    return out


def layer_ms(value: dict) -> dict:
    """Per-layer UDF ms from a PartCounts value, summed over Arrow batches."""
    return {layer: round(value.get(("layer_ms", layer), 0.0), 1) for layer in _LAYERS}


def _caption_udf(name: str, layers, counts=None):
    def batch(captions: pd.Series, parts: pd.Series = None) -> pd.DataFrame:
        cols, ms = {}, {}
        for layer in layers:
            t0 = time.perf_counter()
            cols.update(_LAYERS[layer][1](captions))
            ms[layer] = (time.perf_counter() - t0) * 1000
        if counts is not None:
            counts.add(_fold_counts(parts, cols, ms))
        return pd.DataFrame(cols)

    batch.__name__ = name  # the UDF's name in physical plans
    fields = [f for layer in layers for f in _LAYERS[layer][0]]
    return pandas_udf(batch, StructType(fields))


_QUALITY_UDF = _caption_udf("caption_quality", ["quality"])
_SCRUB_UDF = _caption_udf("caption_scrub", ["scrub"])
_FUSED = ("caption_quality_scrub", ["quality", "scrub"])
_FUSED_UDF = _caption_udf(*_FUSED)


def _apply(df: DataFrame, udf, *extra_cols: str) -> DataFrame:
    out = df.withColumn("_cs", udf(F.col("caption"), *map(F.col, extra_cols)))
    for name in udf.returnType.fieldNames():
        out = out.withColumn(name, F.col(f"_cs.{name}"))
    return out.drop("_cs")


def quality_stage(df: DataFrame) -> DataFrame:
    """Adds lang, ppl, drop_reasons (core.quality.RULE_ORDER order), keep."""
    return _apply(df, _QUALITY_UDF)


def scrub_stage(df: DataFrame) -> DataFrame:
    """Adds scrubbed_caption, pii_masked, scrub_count."""
    out = _apply(df, _SCRUB_UDF)
    return out.withColumn("scrub_count", F.size("pii_masked"))


def fused_quality_scrub(df: DataFrame, counts=None) -> DataFrame:
    """quality_stage + scrub_stage columns in one Python stage. With
    `counts`, an accumulator of PartCounts, the UDF also reads `part_id`
    and adds every batch's per-part counts and per-layer ms to it."""
    if counts is None:
        out = _apply(df, _FUSED_UDF)
    else:
        out = _apply(df, _caption_udf(*_FUSED, counts), "part_id")
    return out.withColumn("scrub_count", F.size("pii_masked"))
