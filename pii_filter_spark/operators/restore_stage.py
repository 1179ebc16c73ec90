"""Restoration stage: inverse of the scrub transform (reference R1–R3).

Mirrors /root/reference/src/services/restoration_service.py:43-165 as a
vectorized column transform: placeholder→original substitution in reverse
span order (R1), duplicate-label cleanup (R2), and the residual-placeholder
integrity flag (R3, reference :76-91) — all per-row, so one pandas UDF over
(scrubbed, mappings) with no shuffle.

Round-trip contract (tests/test_pipeline.py): for every row,
restore(scrub(caption)) == caption and restore_ok is true.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from ..core.restore import cleanup_duplicate_labels, has_residual_placeholders, restore_text

_RESTORE_TYPE = StructType(
    [
        StructField("restored_caption", StringType()),
        StructField("restore_ok", BooleanType()),
    ]
)


def _make_restore_udf(cleanup: bool):
    @pandas_udf(_RESTORE_TYPE)
    def _restore(scrubbed: pd.Series, mappings: pd.Series) -> pd.DataFrame:
        texts, oks = [], []
        for s, maps in zip(scrubbed, mappings):
            mlist = [dict(m) for m in maps] if maps is not None else []
            t = restore_text(s if isinstance(s, str) else "", mlist)
            if cleanup:
                t = cleanup_duplicate_labels(t)
            texts.append(t)
            oks.append(not has_residual_placeholders(t))
        return pd.DataFrame({"restored_caption": texts, "restore_ok": oks})

    return _restore


def restore_stage(df: DataFrame, cleanup_labels: bool = False) -> DataFrame:
    """Adds restored_caption + restore_ok.

    cleanup_labels applies the reference's duplicate-label regex pass
    (R2); off by default because it is NOT identity-safe on text that
    legitimately repeats a label word, so round-trip tests skip it.
    It runs INSIDE the same restore UDF invocation — a second chained
    withColumn UDF made Catalyst re-evaluate the whole upstream
    scrub+restore chain per extracted column (measured 3.3x the wall
    time of the plain round-trip).
    """
    udf = _make_restore_udf(cleanup_labels)
    out = df.withColumn("_r", udf(F.col("scrubbed_caption"), F.col("pii_masked")))
    return (
        out.withColumn("restored_caption", F.col("_r.restored_caption"))
        .withColumn("restore_ok", F.col("_r.restore_ok"))
        .drop("_r")
    )
