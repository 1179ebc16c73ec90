"""Lineage/metrics sidecar (FIXTURES.md B2 schema).

The reference streams per-stage SSE log events per request
(/root/reference/src/api/proxy.py:97-190); at table scale the analogue is
a per-partition metrics rollup written next to each snapshot. Computed as
ONE distributed aggregation over the written output (groupBy part_id), not
driver-side iteration; drop-reason counts aggregate via explode +
map_from_entries so the map stays columnar end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(df: DataFrame, part_col: str = "part_id") -> DataFrame:
    """Per-partition rollup: (part_id, rows_in, rows_kept, rows_dropped,
    scrub_count, drop_reason_counts map<string,long>)."""
    base = df.groupBy(part_col).agg(
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("keep").cast("long")).alias("rows_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("rows_dropped"),
        F.sum(F.col("scrub_count").cast("long")).alias("scrub_count"),
    )
    reasons = (
        df.select(part_col, F.explode_outer("drop_reasons").alias("reason"))
        .where(F.col("reason").isNotNull())
        .groupBy(part_col, "reason")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(part_col)
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("reason", "cnt")))
            ).alias("drop_reason_counts")
        )
    )
    return base.join(reasons, part_col, "left")
