"""Deterministic train/validation/test split assignment.

Every training-data pipeline ends by carving held-out sets, and at
10^12 rows the only sane mechanism is a HASH split: `rand()` changes
under re-execution, resharding, and retries, silently leaking eval rows
into training between runs. The standard recipe (used by C4's
validation split and most internal corpus pipelines) is a stable
bucket hash of the row id — membership is a pure function of the id,
reproducible on any engine, any partitioning, any day.

Implementation: the repo's portable md5-prefix bucket (same recipe as
the KMV sketch / shard hash — first 7 hex chars as an integer, mod
`denom`), compared against cumulative literal thresholds in one codegen
CASE. Zero shuffles, zero Python; at any scale this fuses into the
scan. The DuckDB oracle is plain SQL over the identical expression.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPLITS: List[Tuple[str, int]] = [
    ("train", 9800),   # cumulative thresholds out of denom
    ("val", 9900),
    ("test", 10000),
]


def split_bucket(id_col: Column) -> Column:
    """Portable md5-prefix bucket in [0, 10000)."""
    h = F.md5(id_col.cast("string"))
    return F.pmod(
        F.conv(F.substring(h, 1, 7), 16, 10).cast("long"), F.lit(10000)
    )


def assign_splits(df: DataFrame) -> DataFrame:
    """Adds (split_bucket, split): hash-stable split membership.

    SPLITS lists (name, cumulative_threshold) up to 10000; a row belongs
    to the first split whose threshold exceeds its bucket. Membership
    never changes across runs/partitionings.
    """
    b = split_bucket(F.col("doc_id"))
    expr = None
    for name, cum in SPLITS[:-1]:
        cond = b < F.lit(cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    return df.withColumns({"split_bucket": b, "split": expr.otherwise(F.lit(SPLITS[-1][0]))})
