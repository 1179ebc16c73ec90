"""Event sessionization (gap-based), batch form.

The classic training-data/telemetry shape: group a user's events into
sessions separated by >gap of silence, then aggregate per session. All
native window functions — lag to flag session starts, a running sum of
flags as the session index, then one groupBy — so the whole plan is two
shuffles (one hash partition by user for the window, reused by the
aggregation) and stays in whole-stage codegen.

At 100 TB the window partitioning is by user_id: millions of small
partitions, no skew amplification (a pathological single user is
bounded by their own event count, and AQE skew handling applies to the
shuffle like any other).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

GAP_MINUTES = 360  # silence that ends a session

def sessionize(df: DataFrame) -> DataFrame:
    """Per-user gap sessionization (GAP_MINUTES) → one row per session.

    Output: (user, session_idx, session_start, session_end, n_events,
    total_value). session_idx is 0-based in ts order per user; ties on
    ts break by event id for determinism.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = GAP_MINUTES * 60
    prev_ts = F.lag("ts").over(w)
    # Interval comparison keeps sub-second precision: unix_timestamp()
    # truncates to seconds, which would disagree with the fractional-epoch
    # DuckDB oracle for gaps landing in (gap, gap+1) s on microsecond
    # timestamps. Timestamp subtraction works for both TIMESTAMP and
    # TIMESTAMP_NTZ (a double cast does not) and involves no timezone.
    new_session = (
        prev_ts.isNull()
        | (
            (F.col("ts") - prev_ts)
            > F.make_dt_interval(secs=F.lit(float(gap_s)))
        )
    ).cast("int")
    with_idx = df.withColumn(
        "session_idx",
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - 1,
    )
    return (
        with_idx.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
