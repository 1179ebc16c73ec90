"""Full caption quality-filter + PII-scrub pipeline with checkpoint/resume.

Composition:
    read → caption stage (one pandas UDF: langid, perplexity, quality
                          rules, PII/toxicity scrub — operators/fused.py)
         → one plain parquet write per batch of partitions, into its own
           batch-<first part_id> directory; a manifest entry per partition

Checkpoint/resume [north rule]: rows map deterministically into
`num_parts` logical partitions by their input file. The sorted input
listing of N files gives file i the part range [⌊iP/N⌋, ⌊(i+1)P/N⌋), at
least one part wide, and a row's part is its range's start plus
pmod(xxhash64(image_id), range width) (with_part_id): one file gives
pmod(xxhash64(image_id), P), and N ≥ P files give one part per file.
Partitions are processed in batches, each batch reads only the files
whose ranges meet it, and each batch overwrites its own directory,
with `part_id` kept as a column. The manifest entry per completed
partition is the commit record: it names the batch directory and lists
the batch's parts, and the table is the directories the entries name
(table_io.read_table). A restart first deletes every batch directory
that is not fully committed (some part of its batch has no entry naming
it), with the entries of a partly committed batch, then reprocesses
only the missing partitions — identical final table, idempotent metrics
(tests/test_checkpoint.py kills runs mid-way, also between a batch's
write and its entries, and asserts equality). Every entry records the
listing's file count and digest, and a resume against another listing
is refused: its rows would map to other parts.

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
`bytes` column never enters Python. A batch scans only its own files,
so the input is read about once per pass, not once per batch; a file
whose range straddles two batches is read by both. A batch writes one
file per task, not one per task and part, so files per batch equal its
tasks.
`batch_parts` bounds the blast radius of a failure; at 10^12 rows you'd
size num_parts so one partition ≈ one Iceberg file group.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import re
import shutil
import time
import uuid
from concurrent.futures import FIRST_COMPLETED, Future, ThreadPoolExecutor, wait
from typing import Collection, Dict, List, Set
from urllib.parse import unquote

import pandas as pd

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.fused import (
    ALL_LAYERS, PartCounts, caption_stage, fused_quality_scrub, layer_ms, part_counts,
)
from .sources import table_io

PART_COL = "part_id"
BATCH_PREFIX = "batch-"
# batch jobs run_pipeline keeps running at once. With per-batch reads, a
# warm local[4] session passed the 16-file perfbench input (256 parts, 32
# per batch) in 1.70, 1.64 and 1.65 s at 2, 3 and 4 in flight (medians of
# 3 sessions); too close to change without alternating perfbench pairs
IN_FLIGHT = 2
# `scheme:///path` (DataFrame.inputFiles) and `scheme:/path`
# (_metadata.file_path) name the same file; both normalize to the latter
_EMPTY_AUTHORITY = r"^([A-Za-z][A-Za-z0-9+.-]*):///"


def _normalized(path: str) -> str:
    return re.sub(_EMPTY_AUTHORITY, r"\1:/", path)


def _normalized_col(path: Column) -> Column:
    return F.regexp_replace(path, _EMPTY_AUTHORITY, "$1:/")


def part_ranges(files: Collection[str], num_parts: int) -> Dict[str, range]:
    """The part range each input file owns, in listing (sorted) order:
    file i of N owns [⌊iP/N⌋, ⌊(i+1)P/N⌋), at least one part wide, so
    the ranges cover every part and N ≥ P files own one part each."""
    files = sorted(files)
    out = {}
    for i, f in enumerate(files):
        start = i * num_parts // len(files)
        out[f] = range(start, max((i + 1) * num_parts // len(files), start + 1))
    return out


def _with_file_parts(df: DataFrame, ranges: Dict[str, range], id_col: str) -> DataFrame:
    """Adds part_id: the start of the row's file range plus
    pmod(xxhash64(id_col), its width). A row of a file that `ranges` does
    not hold fails its task; it never gets a NULL part_id."""
    pairs = []
    for f, r in ranges.items():
        pairs += [F.lit(_normalized(f)),
                  F.struct(F.lit(r.start).alias("start"), F.lit(len(r)).alias("width"))]
    path = F.col("_metadata.file_path")
    rng = F.coalesce(
        F.try_element_at(F.create_map(*pairs), _normalized_col(path)),
        F.raise_error(F.concat(F.lit("no part range for input file "), path)),
    )
    return df.withColumn(
        PART_COL, rng["start"] + F.pmod(F.xxhash64(F.col(id_col)), rng["width"]))


def with_part_id(df: DataFrame, num_parts: int, id_col: str = "image_id") -> DataFrame:
    """Adds each row's part_id by the ranges of `df`'s own input files
    (part_ranges over df.inputFiles()); `df` reads parquet files."""
    return _with_file_parts(df, part_ranges(df.inputFiles(), num_parts), id_col)


def _table_root(spark: SparkSession, path: str) -> str:
    """The directory a table's partition columns (`k=v` directories) are
    found under: `path`, or a file's own directory."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return path if fs.getFileStatus(jpath).isDirectory() else jpath.getParent().toString()


def batch_input(spark: SparkSession, ranges: Dict[str, range], schema: StructType,
                root: str, parts: List[int]) -> DataFrame:
    """The rows of the input files whose ranges meet `parts`, with their
    part_id; it reads only those files, with the resolved `schema` and
    the partition columns of the table under `root` (_table_root), and
    maps rows over those files' ranges only."""
    wanted = set(parts)
    mine = {f: r for f, r in ranges.items() if not wanted.isdisjoint(r)}
    # inputFiles() names are URIs; a reader path is a glob, unescaped
    paths = [re.sub(r"([\\{}\[\]*?])", r"\\\1", unquote(f)) for f in mine]
    df = spark.read.schema(schema).option("basePath", root).parquet(*paths)
    return _with_file_parts(df, mine, "image_id")


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

    The input is listed once (table_io.read_table; its sorted
    inputFiles() and schema), and each input file owns a range of parts
    (part_ranges). Each batch reads only the files whose ranges meet its
    parts (batch_input), so a file is read by every batch its range
    meets, and is one plain parquet write into
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
    num_parts or another input listing (file count and digest; rows map
    to other part_ids then, so resuming would skip or duplicate rows), or
    names no batch directories (an output of the earlier part_id=K
    layout, which this run cannot extend).
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
    listed = table_io.read_table(spark, input_path)
    files, schema = listed.inputFiles(), listed.schema
    digest = hashlib.sha256("\n".join(sorted(map(_normalized, files))).encode())
    listing = {"input_files": len(files), "input_digest": digest.hexdigest()}
    if any({k: e.get(k) for k in listing} != listing for e in manifest):
        raise ValueError(
            f"the input listing of {input_path} ({len(files)} files, digest "
            f"{listing['input_digest'][:12]}) does not match the listing "
            f"recorded in the manifest of {output_path}"
        )
    manifest = drop_uncommitted(output_path, manifest)
    ranges, root = part_ranges(files, num_parts), _table_root(spark, input_path)

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
        src = batch_input(spark, ranges, schema, root, batch)
        if scrub_image_bytes:
            src = scrub_bytes_stage(src)
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
                    **listing,
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
