"""Small-file compaction: bin-pack planning + snapshot rewrite.

The small-file problem is THE standing maintenance cost of a
continuously-appended 10^12-row table: every incremental crawl commits
thousands of sub-target files, scan planning slows linearly in file
count, and read amplification grows. Iceberg ships this as
`rewriteDataFiles` (binpack strategy); this module gives the repo's
table seam the same two pieces:

* `compaction_plan(df)` — the PLANNER: assign each file (any inventory
  row with a size) to a compaction group of ~TARGET_BYTES, packing
  largest-first so big files don't straddle groups. First-fit in
  (size DESC, id) order over a global exclusive prefix sum — the same
  two-phase banded cumsum as `operators/packing.py` (phase 1: per-band
  totals, driver exclusive prefix over ≤ N_GROUPS rows; phase 2:
  bounded per-band window), except the bands here are SIZE bands
  (floor((max-size)/span)) because the pack order is by size, not id.
  Bands are monotone in the sort order and a pure function of size, so
  ties never split across bands and the two-phase sum equals the
  single-window SQL a DuckDB oracle runs. One shuffle (band hash for
  the window), one tiny agg — no corpus-wide single-task window.

* `compact_snapshot(spark, table_path)` — the EXECUTOR for the repo's
  snapshot-log tables: read the current snapshot, rewrite it as
  ceil(total_bytes / target_bytes) files, publish as an `overwrite`
  snapshot. Time travel keeps every pre-compaction snapshot readable
  (snapshot_write never deletes parent data), so a compaction is a
  metadata swap exactly like Iceberg's — rows identical, file count
  collapsed.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TARGET_BYTES = 8192
N_GROUPS = 64  # size bands of the planner's two-phase prefix sum


def compaction_plan(df: DataFrame) -> DataFrame:
    """(doc_id, size_bytes, cum_before, compaction_group) for a file inventory.

    compaction_group = exclusive-prefix-sum(size, over size DESC, id)
    div TARGET_BYTES — contiguous ~target-sized groups, largest first.
    """
    bounds = df.agg(
        F.min("size_bytes").alias("lo"), F.max("size_bytes").alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:
        id_type = df.schema["doc_id"].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [],
            f"doc_id {id_type}, size_bytes long, cum_before long, "
            "compaction_group long",
        )
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    span = max(1, (hi - lo + N_GROUPS) // N_GROUPS)

    base = df.select(
        F.col("doc_id"),
        F.col("size_bytes").cast("long").alias("size_bytes"),
        F.floor((F.lit(hi) - F.col("size_bytes")) / F.lit(span)).alias("_band"),
    )

    totals = {
        int(r["_band"]): int(r["tot"])
        for r in base.groupBy("_band")
        .agg(F.sum("size_bytes").alias("tot"))
        .collect()
    }
    offsets, running = {}, 0
    for b in sorted(totals):
        offsets[b] = running
        running += totals[b]
    band_base = None
    for b, off in sorted(offsets.items()):
        cond = F.col("_band") == F.lit(b)
        band_base = (
            F.when(cond, F.lit(off))
            if band_base is None
            else band_base.when(cond, F.lit(off))
        )

    w = (
        Window.partitionBy("_band")
        .orderBy(F.col("size_bytes").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (F.coalesce(F.sum("size_bytes").over(w), F.lit(0)) + band_base).alias(
        "cum_before"
    )
    return base.select(F.col("doc_id"), F.col("size_bytes"), cum).withColumn(
        "compaction_group", F.expr(f"cum_before div {TARGET_BYTES}")
    )


def compact_snapshot(
    spark,
    table_path: str,
    target_bytes: int = 64 * 1024 * 1024,
) -> dict:
    """Rewrite the CURRENT snapshot of a snapshot-log table into
    ~target_bytes files (Iceberg rewriteDataFiles binpack shape).

    Returns {"snapshot_id", "files_before", "files_after", "rows"}.
    Historical snapshots stay readable (time travel is untouched).
    """
    from ..sources import table_io

    df = table_io.read_table(spark, table_path)
    sizes = _data_file_sizes(table_path)
    total = sum(s for _, s in sizes)
    n_files = max(1, math.ceil(total / target_bytes))
    rows = df.count()
    new_id = table_io.snapshot_write(df.repartition(n_files), table_path)
    after = _data_file_sizes(table_path, snapshot_dir=f"s{new_id:05d}")
    return {
        "snapshot_id": new_id,
        "files_before": len(sizes),
        "files_after": len(after),
        "rows": rows,
    }


def _data_file_sizes(table_path: str, snapshot_dir: str | None = None):
    """(path, bytes) for every parquet data file of a snapshot-log
    table (driver-side walk of the table's own metadata directory —
    bounded by file COUNT, which is exactly what compaction shrinks)."""
    import os

    from ..sources import table_io

    out = []
    if snapshot_dir is None:
        cur = table_io.current_snapshot_id(table_path)
        snaps = {s["snapshot_id"]: s for s in table_io.list_snapshots(table_path)}
        rel_dirs = snaps[cur]["files"] if cur is not None else []
    else:
        rel_dirs = [os.path.join("data", snapshot_dir)]
    for rel in rel_dirs:
        root = os.path.join(table_path, rel)
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    full = os.path.join(dirpath, f)
                    out.append((full, os.path.getsize(full)))
    return sorted(out)
