"""Full caption quality-filter + PII-scrub pipeline with checkpoint/resume.

Composition:
    read → caption stage (one pandas UDF: langid, perplexity, quality
                          rules, PII/toxicity scrub — operators/fused.py)
         → one plain parquet write per batch of partitions, into its own
           batch-<first part_id> directory; a manifest entry per partition

Checkpoint/resume [north rule]: rows hash deterministically into
`num_parts` logical partitions (pmod(xxhash64(image_id), P)); partitions
are processed in batches, and each batch overwrites its own directory,
with `part_id` kept as a column. The manifest entry per completed
partition is the commit record: it names the batch directory and lists
the batch's parts, and the table is the directories the entries name
(table_io.read_table). A restart first deletes every batch directory
that is not fully committed (some part of its batch has no entry naming
it), with the entries of a partly committed batch, then reprocesses
only the missing partitions — identical final table, idempotent metrics
(tests/test_checkpoint.py kills runs mid-way, also between a batch's
write and its entries, and asserts equality).

Batches in flight: run_pipeline keeps two batch jobs running at once
(IN_FLIGHT), each from its own driver thread, so one batch's fixed cost
(plan build, job start, the tail of its tasks, the commit) overlaps the
other's tasks. Each batch keeps its own accumulator, plan and directory,
and writes its own entries once its own write returns, so entries may
land out of batch order; the commit rule above is unchanged. After a
failure no batch starts, the other batch in flight is cancelled and
waited for, and the first error is raised.

Metrics come from the pass that wrote the rows: the caption UDF folds
each Arrow batch's output into a per-batch accumulator (per-part rows
in/kept/dropped, scrub count, drop reasons; per-layer ms), and the
manifest entries are built from it once the write returns. Nothing is
read back.

Scale notes: the whole hot path is one scan → one UDF projection → one
plain write; no joins, aggregations or shuffles, and the MB-scale
`bytes` column never enters Python. A batch writes one file per task,
not one per task and part, so files per batch equal its tasks.
`batch_parts` bounds the blast radius of a failure; at 10^12 rows you'd
size num_parts so one partition ≈ one Iceberg file group.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time
import uuid
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from typing import Dict, List, Set

import pandas as pd

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.fused import (
    ALL_LAYERS, PartCounts, caption_stage, fused_quality_scrub, layer_ms, part_counts,
)
from .sources import table_io

PART_COL = "part_id"
BATCH_PREFIX = "batch-"
# batch jobs run_pipeline keeps running at once; more measured no faster
IN_FLIGHT = 2


def with_part_id(df: DataFrame, num_parts: int, id_col: str = "image_id") -> DataFrame:
    return df.withColumn(PART_COL, F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_parts)))


def transform(df: DataFrame) -> DataFrame:
    """The logical plan; bytes passes through untouched.

    One Python stage computes the quality and scrub columns together
    (operators/fused.fused_quality_scrub).
    """
    return fused_quality_scrub(df)


def batch_frame(src: DataFrame, parts: List[int], counts) -> DataFrame:
    """What run_pipeline writes for one batch of parts. Its caption UDF adds
    the per-part counts and per-layer ms to `counts` (a PartCounts
    accumulator); they are exact only while this plan has no Exchange.
    `part_id` comes last, as an int: the schema a `partitionBy(part_id)`
    table reads back with."""
    out = caption_stage(
        src.where(F.col(PART_COL).isin(parts)), ALL_LAYERS, "caption", counts
    )
    cols = [c for c in out.columns if c != PART_COL]
    return out.select(*cols, F.col(PART_COL).cast("int"))


def drop_uncommitted(output_path: str, manifest: List[Dict]) -> List[Dict]:
    """Delete every batch directory that is not fully committed, and the
    entries of a partly committed batch; returns the entries kept.

    A directory is fully committed when each part its entries list has an
    entry naming it. Entries go before their directory, so a cleanup
    killed midway leaves a batch that the next one deletes.
    """
    by_part = {e["part_id"]: e for e in manifest}
    committed = {
        e["batch_dir"] for e in manifest
        if all(by_part.get(p, {}).get("batch_dir") == e["batch_dir"]
               for p in e["batch_part_ids"])
    }
    for e in manifest:
        if e["batch_dir"] not in committed:
            table_io.drop_manifest_entry(output_path, e["part_id"])
    names = os.listdir(output_path) if os.path.isdir(output_path) else []
    for name in names:
        if name.startswith(BATCH_PREFIX) and name not in committed:
            shutil.rmtree(os.path.join(output_path, name))
    return [e for e in manifest if e["batch_dir"] in committed]


def scrub_bytes_stage(df: DataFrame, bytes_col: str = "bytes") -> DataFrame:
    """Optional image-bytes PII writeback stage (default OFF — the
    flagship keeps bytes out of Python entirely): rewrites the binary
    column with metadata stripped — PNG ancillary chunks
    (images/metadata.strip_ancillary) or JPEG APP1/APP13/COM segments
    (images/jpeg_metadata.strip_jpeg_metadata). Both strips are
    marker/chunk-level rewrites, so decoded pixels are bit-identical by
    construction; unknown formats pass through untouched. One Arrow
    pandas UDF — bytes cross into Python once and never shuffle."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def _clean(s: pd.Series) -> pd.Series:
        from .images.jpeg_metadata import strip_jpeg_metadata
        from .images.metadata import is_png, strip_ancillary

        def one(x):
            if x is None:
                return None
            b = bytes(x)
            return strip_ancillary(b) if is_png(b) else strip_jpeg_metadata(b)

        return pd.Series([one(x) for x in s])

    return df.withColumn(bytes_col, _clean(F.col(bytes_col)))


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    num_parts: int = 32,
    batch_parts: int = 8,
    scrub_image_bytes: bool = False,
) -> List[int]:
    """Run (or resume) the pipeline. Returns the part_ids processed this run.

    Each batch is one plain parquet write into
    `<output_path>/batch-<first part_id, 5 digits>`; its manifest entries,
    written after it, name that directory and list the batch's parts.
    Two batches run at once, each from a driver thread that carries the
    caller's local properties (job group, description, scheduler pool),
    so a later batch may commit first; the next batch starts when one of
    them has committed. The first failure starts no more batches,
    cancels the other batch's jobs (by a job tag of this run), waits for
    it and is raised. Before planning, a run deletes every batch
    directory that is not fully committed (drop_uncommitted), so a kill
    costs only the batches in flight.

    scrub_image_bytes additionally rewrites the binary column with
    PNG/JPEG metadata stripped (see scrub_bytes_stage).

    Raises ValueError when the output's manifest was written with another
    num_parts (rows hash to different part_ids then, so resuming would
    skip or duplicate rows), or names no batch directories (an output of
    the earlier part_id=K layout, which this run cannot extend).
    """
    manifest = table_io.read_manifest(output_path)
    if any("batch_dir" not in e for e in manifest):
        raise ValueError(
            f"the manifest of {output_path} names no batch directories; "
            "write into a fresh output"
        )
    recorded = {e["num_parts"] for e in manifest} - {num_parts}
    if recorded:
        raise ValueError(
            f"num_parts={num_parts} does not match num_parts="
            f"{', '.join(map(str, sorted(recorded)))} recorded in the "
            f"manifest of {output_path}"
        )
    manifest = drop_uncommitted(output_path, manifest)
    src = with_part_id(table_io.read_table(spark, input_path), num_parts)
    if scrub_image_bytes:
        src = scrub_bytes_stage(src)

    done = {e["part_id"] for e in manifest}
    todo = [p for p in range(num_parts) if p not in done]
    batches = iter([todo[i : i + batch_parts] for i in range(0, len(todo), batch_parts)])
    sc = spark.sparkContext
    tag = f"run_pipeline-{uuid.uuid4().hex}"

    def commit(batch: List[int]) -> None:
        """One batch's write, then its manifest entries."""
        sc.addJobTag(tag)
        batch_dir = f"{BATCH_PREFIX}{batch[0]:05d}"
        t0 = time.perf_counter()
        counts = sc.accumulator({}, PartCounts())
        batch_frame(src, batch, counts).write.mode("overwrite").parquet(
            os.path.join(output_path, batch_dir)
        )
        wall_ms = int((time.perf_counter() - t0) * 1000)

        # counted by the write's own UDF; complete once the action returns
        value = counts.value
        for p in batch:
            table_io.write_manifest_entry(
                output_path,
                p,
                {
                    "num_parts": num_parts,
                    "batch_dir": batch_dir,
                    "batch_part_ids": batch,
                    **part_counts(value, p),
                    "layer_ms": layer_ms(value),
                    "wall_ms": wall_ms,
                },
            )

    def submit(pool: ThreadPoolExecutor, n: int) -> Set[Future]:
        # wrapped per batch, in the caller's thread: the wrapper copies the
        # caller's local properties once, and two batches sharing one copy
        # would also share the spark.sql.execution.id each write sets
        return {pool.submit(inheritable_thread_target(spark)(commit), b)
                for b in itertools.islice(batches, n)}

    with ThreadPoolExecutor(IN_FLIGHT) as pool:
        running = submit(pool, IN_FLIGHT)
        while running:
            finished, running = wait(running, return_when=FIRST_COMPLETED)
            failed = [f for f in finished if f.exception() is not None]
            if failed:
                while running:  # its job may start after a cancel
                    sc.cancelJobsWithTag(tag)
                    running = wait(running, timeout=0.1).not_done
                raise failed[0].exception()
            running |= submit(pool, len(finished))
    return todo
