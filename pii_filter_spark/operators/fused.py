"""The caption stage: one Arrow-batched pandas UDF over a text column.

Every per-text decision — language ID, perplexity, the quality rules
(core/quality.py) and the PII/toxicity scrub (core/detect.py) — runs in
Python on the frozen core semantics; the JVM only scans, projects and
writes. The operators layer holds no rule logic of its own.

`_LAYERS` is the one ordered layer table. Each layer maps a batch of
texts, plus the columns of earlier layers, to its own columns:

  * lang   adds lang
  * ppl    adds ppl
  * rules  adds drop_reasons, keep (reads lang and ppl)
  * scrub  adds scrubbed_caption, pii_masked (and scrub_count, natively)

`caption_stage(df, layers, text_col)` runs a selection of them as ONE
pandas UDF reading only `text_col`, plus `part_id` when counting
(Catalyst prunes the MB-scale `bytes` column away). The caption
selections keep their names in physical plans:

  * quality_stage       lang, ppl, rules    (caption_quality)
  * scrub_stage         scrub               (caption_scrub)
  * pipeline.transform  all four            (caption_quality_scrub) —
                        the production path, and `entry()`.

scrub_stage(quality_stage(df)) yields the same columns and values as
pipeline.transform(df) (tests/test_spark_stages.py). Pattern, dictionary
and model state compile once per Python worker at module import.

Counting: given a PartCounts accumulator, the UDF also reads `part_id`
and adds each Arrow batch's per-part counts and per-layer ms to it
(pipeline.run_pipeline's manifest). The counts are exact because Spark
merges a result task's update once, from its first successful attempt:
this holds while the counted plan has no Exchange.
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


def _rules(texts: pd.Series, cols: dict) -> dict:
    reasons = [drop_reasons(t, lg, pp)
               for t, lg, pp in zip(texts, cols["lang"], cols["ppl"])]
    return {"drop_reasons": reasons, "keep": [not r for r in reasons]}


def _scrub(texts: pd.Series, cols: dict) -> dict:
    scrubbed = scrub_batch(texts)
    return {
        "scrubbed_caption": [r[0] for r in scrubbed],
        "pii_masked": [r[1] for r in scrubbed],
    }


# name -> (output fields, fn(texts, columns of earlier layers) -> columns);
# a None text gets lang "und" and ppl 0.0 from the core functions
_LAYERS = {
    "lang": ([StructField("lang", StringType())],
             lambda texts, cols: {"lang": [detect_language(t) for t in texts]}),
    "ppl": ([StructField("ppl", DoubleType())],
            lambda texts, cols: {"ppl": [perplexity(t) for t in texts]}),
    "rules": ([StructField("drop_reasons", ArrayType(StringType())),
               StructField("keep", BooleanType())], _rules),
    "scrub": ([StructField("scrubbed_caption", StringType()),
               StructField("pii_masked", ArrayType(MAPPING_TYPE))], _scrub),
}
QUALITY_LAYERS = ("lang", "ppl", "rules")
ALL_LAYERS = (*QUALITY_LAYERS, "scrub")
# the caption selections' UDF names in physical plans; any other
# selection is named by its layers ("lang_ppl")
_NAMES = {QUALITY_LAYERS: "caption_quality", ("scrub",): "caption_scrub",
          ALL_LAYERS: "caption_quality_scrub"}


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


def caption_stage(df: DataFrame, layers, text_col: str, counts=None) -> DataFrame:
    """Adds the columns of the selected `layers` (names of `_LAYERS`, run
    in table order) computed from `text_col`, in one Python stage; with
    `scrub`, also scrub_count. With `counts`, an accumulator of
    PartCounts, the UDF also reads `part_id` and adds every batch's
    per-part counts and per-layer ms to it (all four layers selected).

    Raises ValueError for `rules` without `lang` and `ppl`."""
    sel = tuple(sorted(set(layers), key=list(_LAYERS).index))
    if "rules" in sel and not {"lang", "ppl"} <= set(sel):
        raise ValueError(f"layer selection {sel}: rules reads lang and ppl")

    def batch(texts: pd.Series, parts: pd.Series = None) -> pd.DataFrame:
        cols, ms = {}, {}
        for layer in sel:
            t0 = time.perf_counter()
            cols.update(_LAYERS[layer][1](texts, cols))
            ms[layer] = (time.perf_counter() - t0) * 1000
        if counts is not None:
            counts.add(_fold_counts(parts, cols, ms))
        return pd.DataFrame(cols)

    batch.__name__ = _NAMES.get(sel, "_".join(sel))  # the UDF's name in plans
    udf = pandas_udf(batch, StructType([f for layer in sel for f in _LAYERS[layer][0]]))
    args = [F.col(text_col)] + ([F.col("part_id")] if counts is not None else [])
    # one projection for every output column: each withColumn re-analyses
    # the plan, and every batch of run_pipeline builds this one
    cols = {name: F.col(f"_cs.{name}") for name in udf.returnType.fieldNames()}
    if "scrub" in sel:
        cols["scrub_count"] = F.size("_cs.pii_masked")
    return df.withColumn("_cs", udf(*args)).withColumns(cols).drop("_cs")


def quality_stage(df: DataFrame) -> DataFrame:
    """Adds lang, ppl, drop_reasons (core.quality.RULE_ORDER order), keep."""
    return caption_stage(df, QUALITY_LAYERS, "caption")


def scrub_stage(df: DataFrame) -> DataFrame:
    """Adds scrubbed_caption, pii_masked, scrub_count."""
    return caption_stage(df, ("scrub",), "caption")
