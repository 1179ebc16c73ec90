#!/usr/bin/env python
"""Production entrypoint: the caption quality-filter + PII-scrub pipeline.

Cluster submission (the north-rule path):

    zip -r pipeline.zip pii_filter_spark
    spark-submit --py-files pipeline.zip \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        jobs/run_scrub_job.py \
        --input  <catalog.table or parquet path> \
        --output <path> --num-parts 4096 --batch-parts 256

Local smoke (also what tests/test_checkpoint.py drives programmatically):

    python jobs/run_scrub_job.py --synthetic 2000 \
        --output /tmp/scrub_out --num-parts 16 --batch-parts 4

Resume semantics: re-running with the same --output continues from the
per-partition manifest — completed partitions are skipped, metrics stay
idempotent. Rows map to partitions by their input file: the sorted
listing's file i of N owns parts [⌊iP/N⌋, ⌊(i+1)P/N⌋), at least one
wide, and a row takes its range's start plus pmod(xxhash64(image_id),
range width). Each batch of partitions reads only the files whose ranges
meet it and is one plain parquet write into <output>/batch-<first part
id>, and its manifest entries name it. Two
batches run at once, so a later batch may commit before an earlier one,
and a kill leaves at most the two batches in flight uncommitted; a
resume first deletes every batch directory that is not fully committed
(a batch killed during its write or before its last entry). Read the
output with table_io.read_table, which reads the directories the
manifest names. The JSON summary's row counts cover the whole manifest;
`layer_ms_this_run` sums the caption UDF's per-layer time (lang, ppl,
rules, scrub; summed over tasks, so it can exceed wall time) once per
batch directory this run wrote. --num-parts and the input's file
listing must match the original run: every manifest entry records
num_parts and the listing's file count and digest, and run_pipeline
refuses a resume that disagrees on either (add input files by writing a
new output).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Local runs from the repo root; under spark-submit --py-files the package
# is on the path already and this is a no-op.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="input table path (input_hint schema)")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate N synthetic rows instead of reading --input "
                        "(written once, next to --output, and reused on resume)")
    p.add_argument("--output", required=True)
    p.add_argument("--num-parts", type=int, default=256)
    p.add_argument("--batch-parts", type=int, default=32)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--master", default=None,
                   help="override master (default: spark-submit's)")
    p.add_argument("--scrub-image-bytes", action="store_true",
                   help="also rewrite the binary column with PNG/JPEG "
                        "metadata stripped (lossless; pixels untouched)")
    args = p.parse_args(argv)
    if not args.input and not args.synthetic:
        p.error("one of --input / --synthetic is required")

    from pii_filter_spark.pipeline import run_pipeline
    from pii_filter_spark.session import get_spark
    from pii_filter_spark.sources import table_io
    from pii_filter_spark.sources.synth import write_input_table

    spark = get_spark(app_name="pii-filter-scrub", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    try:
        input_path = args.input
        if args.synthetic:
            # written once per (rows, seed): a rewrite would give new file
            # names, and run_pipeline refuses to resume on another listing
            input_path = f"{args.output.rstrip('/')}_synth_n{args.synthetic}_s{args.seed}"
            if not os.path.exists(os.path.join(input_path, "_SUCCESS")):
                write_input_table(spark, input_path, args.synthetic, seed=args.seed)

        done_before = set(table_io.completed_part_ids(args.output))
        processed = run_pipeline(
            spark,
            input_path,
            args.output,
            num_parts=args.num_parts,
            batch_parts=args.batch_parts,
            scrub_image_bytes=args.scrub_image_bytes,
        )
        manifest = table_io.read_manifest(args.output)
        entries = {m["part_id"]: m for m in manifest}
        # layer_ms is per batch, repeated in each entry: once per batch dir
        per_batch = {entries[p]["batch_dir"]: entries[p]["layer_ms"] for p in processed}
        layer_ms = {}
        for batch_ms in per_batch.values():
            for layer, ms in batch_ms.items():
                layer_ms[layer] = round(layer_ms.get(layer, 0.0) + ms, 1)
        summary = {
            "partitions_total": args.num_parts,
            "partitions_resumed_from": len(done_before),
            "partitions_processed_this_run": len(processed),
            "rows_in": sum(m["rows_in"] for m in manifest),
            "rows_kept": sum(m["rows_kept"] for m in manifest),
            "rows_dropped": sum(m["rows_dropped"] for m in manifest),
            "scrub_count": sum(m["scrub_count"] for m in manifest),
            "layer_ms_this_run": layer_ms,
            "output": args.output,
        }
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
