"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pii_filter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session with AQE + Arrow tuned for a binary-heavy table.

    On a real cluster these land in spark-submit --conf; the defaults below
    are the ones the pipeline depends on:
      * AQE on (coalesce + skew-join split) — north rule "AQE-tuned shuffles";
        Spark's own defaults since 3.2, so nothing sets them here;
      * Arrow pandas-UDF transfer on, with a small maxRecordsPerBatch because
        rows carry an image `bytes` column (MB-scale rows would otherwise
        produce multi-GB Arrow batches at 10^12-image scale);
      * shuffle partition count sized to the test machine; a cluster run
        should set it to ~2-3x total executor cores.
    """
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cores))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Input-split sizing. Two opposing costs: a pandas-UDF task pays a
        # fixed start-up cost in its Python worker (~5-30 ms, or ~200 ms
        # when the worker keeps the zip importers that
        # importlib.invalidate_caches() re-reads at every task start;
        # pii_filter_spark/__init__.py drops them), so tasks must be big
        # enough that Python compute dominates; but splits fewer than the
        # core count leave cores idle (the 4 MB default openCost makes
        # many-small-file tables collapse to ~#cores/2 splits). Spark's
        # default 128 MB maxPartitionBytes + 1 MB openCost + minPartitionNum
        # = parallelism keeps split count ≈ max(cores, bytes/128MB) at every
        # cluster size — the same rule that holds on a 1000-executor scan
        # of 100 TB.
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
