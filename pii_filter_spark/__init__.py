"""pii_filter_spark — a from-scratch PySpark-native caption quality-filter + PII-scrub engine.

Re-expresses the detection/masking/decision semantics of the reference system
(DiegoAndradeD/pii-filter, a single-record FastAPI pipe-and-filter proxy) as
vectorized pandas/Arrow UDF column transforms plus native Catalyst column
expressions over a table of image+caption pairs, adding language-ID,
perplexity, heuristic quality rules and toxicity scrubbing as batched column
transforms designed for 10^12-row scale.

Layout:
  core/       pure-Python semantic kernels (shared by Spark UDF batches)
  images/     pure-numpy image codecs (PNG lossless; baseline JPEG)
  sources/    table IO seam (parquet + Iceberg-style manifest)
  operators/  DataFrame -> DataFrame stages (scrub, quality, dedup, ANN, ...)
  pipeline.py full pipeline composition, checkpoint/resume, metrics
"""

import sys
import zipimport

__version__ = "0.1.0"


def _drop_worker_zip_importers() -> None:
    """Spark's Python worker calls importlib.invalidate_caches() at the
    start of every task, and on Python < 3.13 each cached zipimporter then
    re-reads its archive's whole central directory: ~200 ms per task for
    the 16 a reused worker holds (2 on the spark-core jar, which Spark puts
    on the worker path and which holds no Python, and 11 on pyspark.zip).
    Drop the jars from sys.path and the zipimporters from the importer
    cache; imports recreate the few they still need."""
    sys.path[:] = [p for p in sys.path if not p.endswith(".jar")]
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[key]


if "pyspark.worker" in sys.modules:
    _drop_worker_zip_importers()
