"""The caption stage: one Arrow-batched pandas UDF per caption batch.

Every per-caption decision — language ID, perplexity, the quality rules
(core/quality.py) and the PII/toxicity scrub (core/detect.py) — runs in
Python on the frozen core semantics; the JVM only scans, projects and
writes. The operators layer holds no rule logic of its own.

Three stage functions, each ONE pandas UDF reading only the `caption`
column (Catalyst prunes the MB-scale `bytes` column away):

  * quality_stage       adds lang, ppl, drop_reasons, keep
  * scrub_stage         adds scrubbed_caption, pii_masked, scrub_count
  * fused_quality_scrub adds both sets — the production path
                        (pipeline.transform) and `entry()`.

scrub_stage(quality_stage(df)) yields the same columns and values as
fused_quality_scrub(df) (tests/test_spark_stages.py). Pattern, dictionary
and model state compile once per Python worker at module import.
"""

from __future__ import annotations

import pandas as pd
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


def _caption_udf(name: str, fields, *column_fns):
    def batch(captions: pd.Series) -> pd.DataFrame:
        cols = {}
        for fn in column_fns:
            cols.update(fn(captions))
        return pd.DataFrame(cols)

    batch.__name__ = name  # the UDF's name in physical plans
    return pandas_udf(batch, StructType(fields))


_QUALITY_UDF = _caption_udf("caption_quality", _QUALITY_FIELDS, _quality_columns)
_SCRUB_UDF = _caption_udf("caption_scrub", _SCRUB_FIELDS, _scrub_columns)
_FUSED_UDF = _caption_udf(
    "caption_quality_scrub",
    _QUALITY_FIELDS + _SCRUB_FIELDS,
    _quality_columns,
    _scrub_columns,
)


def _apply(df: DataFrame, udf) -> DataFrame:
    out = df.withColumn("_cs", udf(F.col("caption")))
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


def fused_quality_scrub(df: DataFrame) -> DataFrame:
    """quality_stage + scrub_stage columns in one Python stage."""
    out = _apply(df, _FUSED_UDF)
    return out.withColumn("scrub_count", F.size("pii_masked"))
