"""Partition pruning evidence on the table_io parquet fallback — the
Iceberg behaviour the north rule's scan story relies on: a filter on the
partition column must reach the scan as a PartitionFilter and shrink the
file set BEFORE any data is read."""

import pytest
from pyspark.sql import functions as F

from pii_filter_spark.sources.table_io import read_table
from tests.plans import Plan, columns


@pytest.fixture()
def part_table(spark, tmp_path):
    path = str(tmp_path / "docs_by_lang")
    df = spark.createDataFrame(
        [(i, f"doc {i}", ["en", "de", "fr", "es", "zh"][i % 5])
         for i in range(200)],
        "doc_id long, text string, lang string",
    )
    df.write.partitionBy("lang").parquet(path)
    return path


def test_partition_filter_reaches_scan(spark, part_table):
    df = read_table(spark, part_table).where(F.col("lang") == "en")
    (scan,) = Plan(df).named("Scan parquet")
    # the predicate must appear in PartitionFilters (metadata-level),
    # not PushedFilters (row-level) — pruning happens before any read
    assert "lang" in columns(scan["PartitionFilters"])


def _files_read(df) -> int:
    """numFiles metric of the executed scan (post-pruning; inputFiles()
    reports the PRE-pruning relation and cannot see the prune)."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    scan = leaves.apply(0)
    return int(scan.metrics().apply("numFiles").value())


def test_pruned_scan_reads_only_matching_files(spark, part_table):
    full = read_table(spark, part_table)
    pruned = full.where(F.col("lang") == "en")
    n_full, n_pruned = _files_read(full), _files_read(pruned)
    assert n_pruned < n_full
    assert n_pruned <= n_full / 5 + 1  # ~1 of 5 lang partitions survives
    assert pruned.count() == 40


def test_partition_values_survive_roundtrip(spark, part_table):
    got = (
        read_table(spark, part_table)
        .groupBy("lang")
        .count()
        .orderBy("lang")
        .collect()
    )
    assert [(r.lang, r["count"]) for r in got] == [
        ("de", 40), ("en", 40), ("es", 40), ("fr", 40), ("zh", 40)
    ]
