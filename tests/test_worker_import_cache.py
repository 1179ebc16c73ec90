"""A reused Spark Python worker holds no zip importers that each task
re-reads.

pyspark's worker calls importlib.invalidate_caches() at the start of every
task, and on Python < 3.13 every zipimporter in sys.path_importer_cache
then re-reads its archive's central directory (~200 ms per task for the 16
a worker accumulates). Importing pii_filter_spark in a worker drops the
jars from sys.path and the zipimporters from the cache
(pii_filter_spark/__init__.py). Structural checks only, no timing.
"""

from pii_filter_spark import pipeline
from pii_filter_spark.sources.synth import gen_pandas

SCHEMA = ("reused boolean, jars_on_path long, jar_importers long, "
          "zip_importers long, zip_paths string")


def test_reused_workers_hold_no_jar_and_few_zip_importers(spark):
    # Python functions carry sc.environment, and Spark keeps one worker
    # pool per environment: the extra variable gives this test workers of
    # its own, so no earlier test's lazy imports of pyspark subpackages
    # (each a zipimporter made after the drop) are counted.
    env = spark.sparkContext.environment
    env["PII_FILTER_TEST_WORKER_POOL"] = "import_cache"
    try:
        rows = _reports(spark)
    finally:
        del env["PII_FILTER_TEST_WORKER_POOL"]
    reused = [r for r in rows if r.reused]
    assert reused, rows
    for r in reused:
        assert r.jars_on_path == 0, r
        assert r.jar_importers == 0, r
        assert r.zip_importers <= 2, r


def _reports(spark):
    df = spark.createDataFrame(gen_pandas(32, seed=11)).repartition(4)
    assert len(pipeline.transform(df).collect()) == 32

    def report(batches):
        import sys
        import zipimport

        import pandas as pd

        reused = "pii_filter_spark" in sys.modules
        import pii_filter_spark  # noqa: F401  (every per-row stage imports it)

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield pd.DataFrame({
            "reused": [reused],
            "jars_on_path": [sum(p.endswith(".jar") for p in sys.path)],
            "jar_importers": [sum(".jar" in k for k in zips)],
            "zip_importers": [len(zips)],
            "zip_paths": [" ".join(zips)],
        })

    rows = []
    for _ in range(3):
        rows += spark.range(0, 4, 1, 4).mapInPandas(report, SCHEMA).collect()
    return rows
