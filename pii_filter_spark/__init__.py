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

__version__ = "0.1.0"
