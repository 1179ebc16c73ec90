"""Regenerate PLANS.md: formatted physical plans for the load-bearing
queries, with the scale-relevant property each plan is meant to exhibit.
Run: python tools/dump_plans.py (imports and rewrites the checkout the
script sits in).
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.01"

CASES = [
    (
        "pii_scrub_captions",
        "Flagship scrub: ONE ArrowEvalPython node (fused UDF evaluated once, "
        "struct-field extraction does NOT re-run it), scan reads only "
        "(doc_id, text) — the ReadSchema line proves column pruning; the "
        "repartition exchange exists only to spread the single-file test "
        "scan and disappears on a many-file production table.",
    ),
    (
        "golden_broadcast_join",
        "Golden-label join shape: both dimension joins are "
        "BroadcastHashJoin (no shuffle of the fact table); aggregation is "
        "partial (HashAggregate before the exchange) then final.",
    ),
    (
        "metrics_rollup",
        "Metrics rollup: WholeStageCodegen covers scan→partial-agg; only "
        "the combined partials shuffle (map-side combine).",
    ),
    (
        "resume_antijoin",
        "Checkpoint resume: left-anti join, broadcast because the "
        "completed-partition side is small.",
    ),
    (
        "dedup_window",
        "Window dedup (first row per key): single shuffle on the partition "
        "key, WindowGroupLimit pushes rn==1 below the sort where supported.",
    ),
    (
        "minhash_lsh_pairs",
        "LSH near-dup pairs: signature UDF appears ONCE, above the "
        "exchange (union branches are pure scan+filter — posexplode_outer "
        "avoids the size()>0-below-Generate pushdown that would drag the "
        "UDF into each branch); one shuffle to bucket; the bucketed rows "
        "split into the native HOF expansion (tiny buckets) and a "
        "vectorized MapInPandas expansion (medium/large buckets) — the "
        "shared bucket shuffle materializes once (AQE stage reuse; "
        "measured: identical stage/task counts with the vectorized "
        "branch on or off). Pair expansion and threshold filtering "
        "happen inside the bucket task; one dropDuplicates over the "
        "unioned branches keeps each multi-band pair once.",
    ),
    (
        "stratified_sample",
        "Two-phase stratified quota sampling: Window #1 partitions on "
        "(stratum, salt) — a hot language never lands in one task — and "
        "Window #2 re-ranks only the bounded survivor set. Both window "
        "sorts are local (SortExec under WindowExec, no global sort).",
    ),
    (
        "curation_pipeline",
        "End-to-end curation composite: dedup semi-join (two-phase "
        "salted min) feeding the heuristic-keep projection feeding the "
        "two-phase quota sample — every stage keeps its standalone "
        "skew-safe shape when composed.",
    ),
    (
        "contamination",
        "Benchmark decontamination: the eval-set n-gram side feeds a "
        "BroadcastHashJoin LeftSemi — the corpus side never shuffles; "
        "the final left join back to doc ids broadcasts the (tiny) hit "
        "set as well.",
    ),
    (
        "export_prep",
        "Training-export prep: the aspect-bucket argmin is a pure "
        "projection (codegen CSE evaluates the shared array_min once "
        "per row); the ONLY shuffle is the single "
        "hashpartitioning(shard_id) for the per-shard row_number — "
        "md5-uniform, so never skewed. The MapInPandas node is the "
        "synthetic SOURCE generator, not the operator: on a production "
        "table it is a parquet/Iceberg scan of (image_id, w, h) only.",
    ),
    (
        "dsir_selection",
        "DSIR importance resampling: the counting pass is the ONLY "
        "shuffle (partial_count HashAggregate over md5-uniform buckets "
        "before its exchange, <=1024 result rows); the scoring pass has "
        "ZERO shuffles — the bucket log-ratio table constant-folds into "
        "one literal array and every document scores itself in place "
        "with a single `aggregate` higher-order fold (no exploded-token "
        "exchange, no join), and the top-k is TakeOrderedAndProject — "
        "no global sort of the scored corpus.",
    ),
    (
        "embedding_near_pairs",
        "Exact cosine pairs: MapInPandas over the scan — broadcast "
        "matmul, zero shuffles, no crossJoin node anywhere.",
    ),
    (
        "quality_filter_heuristic",
        "Native quality rules: the staged select materializes the token "
        "split once; everything stays inside WholeStageCodegen (no Python).",
    ),
    (
        "sensitive_scrub",
        "19-category sensitive-topic scrub (round 2): same fused shape as "
        "the flagship — ONE ArrowEvalPython, pruned ReadSchema; the "
        "deterministic grammar stage adds no extra plan nodes vs the "
        "reference's per-row LLM HTTP call.",
    ),
    (
        "pii_type_counts",
        "Explode over a UDF array: explode_outer + post-generate filter "
        "keeps ONE ArrowEvalPython — plain explode would push a size()>0 "
        "filter below the Generate and re-run the UDF per row.",
    ),
    (
        "span_dedup",
        "C4 global sentence-span dedup: zero Python nodes — sentence "
        "explode (Generate), one doc-partitioned window for the span "
        "lead, one shuffle on span_hash for the global first-occurrence "
        "row_number (streamed, never materialized as an array, so a "
        "boilerplate span repeated 10^9 times is a streaming window "
        "partition, not a collect_list blow-up), one groupBy back on "
        "doc_id. The removal join's build side is duplicate spans only "
        "(≪ corpus).",
    ),
    (
        "image_quality_filter",
        "LAION-style image-side rules: a single WholeStageCodegen "
        "projection+filter over typed metadata and length(bytes) — zero "
        "Python nodes, zero shuffles; the pixel payload is never decoded, "
        "so at 10^12 rows this is a scan-speed stage.",
    ),
    (
        "image_metadata_scrub",
        "PNG metadata PII scrub: the fixture injection plus the scrub are "
        "the plan's only Python nodes; the scrub output projects small "
        "scalars, so MB-scale bytes flow source→Arrow batch→dropped and "
        "never enter a shuffle.",
    ),
    (
        "pack_sequences",
        "Sequence packing: the global exclusive prefix sum appears as a "
        "per-group bounded window (partitionBy grp) — NOT a single "
        "unpartitioned global window, which would serialize 100 TB "
        "through one task; group bases are folded in as literals, no "
        "join.",
    ),
    (
        "exact_substring",
        "Exact-substring dedup (Lee et al. 2022): span md5s are computed "
        "in-row by HOFs inside one codegen projection and evaluated "
        "exactly once — posexplode_outer + an above-Generate null filter "
        "(plain posexplode injects a size()>0 pre-filter below the "
        "Generate that re-runs the transform per emitted row; measured "
        "5.3 s vs 0.76 s at sf0.1), and the removal list joins back onto "
        "the cheap token frame. Two shuffles total: the span_hash "
        "first-occurrence window and the tiny removal-mass groupBy.",
    ),
    (
        "line_clean",
        "RefinedWeb/C4 line rules: map-only, zero shuffles, no UDF. The "
        "per-line tagging array is staged ONCE as a projection (five "
        "consumers would otherwise re-evaluate the regex HOF tree; "
        "CollapseProject keeps the staging because the alias is "
        "expensive and multiply-referenced).",
    ),
    (
        "clip_alignment",
        "LAION CLIP-score shape: ONE mapInPandas straight off the scan "
        "computes both embeddings (bytes enter exactly one Python stage "
        "and never shuffle); the cosine is a JVM-side zip_with/aggregate "
        "fold and the threshold keep is codegen — zero exchanges.",
    ),
    (
        "pixel_phash_pairs",
        "Content-level image near-dup: two mapInPandas stages straight "
        "off the scan (re-encode variants, then pHash — bytes never "
        "shuffle), then the banded hamming operator at 8x8-bit chunks "
        "(pigeonhole-exact recall to hamming<=7; the chunks dial trades "
        "bucket granularity for recall radius, 16-bit chunks stay the "
        "corpus-scale default). One groupBy on (chunk_idx, chunk_val), "
        "in-bucket expansion, one dropDuplicates.",
    ),
    (
        "multimodal_curation",
        "LAION image-side composite: the metadata-quality gate never "
        "touches bytes; alignment + pixel-pHash share ONE decode pass, "
        "localCheckpointed because two consumers (survivor agg + final "
        "join) would otherwise decode twice; survivor selection is the "
        "skew-safe two-phase min-id (groupBy (phash, salt) then phash, "
        "semi-join back).",
    ),
    (
        "ccnet_normalize",
        "CCNet dedup-key normalization: ONE WholeStageCodegen projection "
        "(lower/translate/regexp_replace chain + md5) directly over the "
        "scan — zero Python nodes, zero exchanges beyond the test-scale "
        "scan spread; at 10^12 rows this fuses into the scan stage.",
    ),
    (
        "ccnet_bins",
        "CCNet per-language perplexity terciles: the scoring pass is the "
        "langid+perplexity Arrow stage joined to the tiny cutoff table "
        "via BroadcastHashJoin (no corpus shuffle), bin assignment one "
        "codegen CASE; the only corpus shuffle in the whole operator is "
        "the bounded two-phase sample window over a narrow "
        "(id, lang, ppl) projection.",
    ),
    (
        "split_assignment",
        "Hash-stable train/val/test split: ONE codegen projection (md5 "
        "bucket + literal-threshold CASE) over the scan — zero shuffles, "
        "zero Python; membership is a pure function of the id.",
    ),
    (
        "cross_modal_dedup",
        "Cross-modal dedup: caption edges are ONE window over the digest "
        "(min-id star, no quadratic expansion), image edges reuse the "
        "banded pHash bucket shuffle off a single MapInPandas decode "
        "pass; bytes never shuffle; the union feeds the log-round "
        "components loop.",
    ),
    (
        "compaction_plan",
        "Small-file compaction planner: the two-phase banded prefix sum — "
        "one tiny band aggregate (map-side combined), one bounded "
        "per-band window keyed by the size band; NO single-task global "
        "window despite the globally-ordered cumsum semantics.",
    ),
    (
        "image_sharpness",
        "Image blur/placeholder filter: one ArrowEvalPython/MapInPandas "
        "decode pass directly over the scan union (bytes never shuffle), "
        "keep is a codegen predicate above it.",
    ),
    (
        "url_filter",
        "URL keep/drop rules: one WholeStageCodegen projection — host/"
        "domain regexp_extract, blocklist isin, integer soft-word score, "
        "reason CASE — zero Python nodes, zero exchanges. The DataFrame-"
        "blocklist scale path swaps the isin for a BroadcastHashJoin on "
        "the registered domain (asserted in tests).",
    ),
    (
        "html_extract",
        "HTML main-text extraction: the entire strip chain (script/"
        "style/comment removal, block-tag newlines, tag strip, entity "
        "decode, whitespace normalization) is ONE codegen projection — "
        "zero Python, zero exchanges; at 10^12 rows this is a scan-"
        "speed stage and the raw HTML column is pruned immediately "
        "after.",
    ),
    (
        "jpeg_exif_scrub",
        "JPEG EXIF/COM PII scrub: the injection fixture plus the scrub "
        "are the plan's only Python nodes; the scrub projects small "
        "scalar facts, so the MB-scale bytes flow scan→Arrow "
        "batch→dropped and never enter a shuffle. No decode: the strip "
        "is a marker-level rewrite, pixel bit-identity is structural.",
    ),
    (
        "corpus_lm_perplexity",
        "Distributed LM training: phase-1 partials are per-batch-"
        "combined in the mapInPandas (a partition emits at most "
        "|charset|^3 rows however many docs it holds) feeding ONE "
        "partial_sum HashAggregate + exchange on gram; the model pull "
        "is top-K limit + 2 scalar aggregates (bounded driver rows); "
        "the scoring pass is a second mapInPandas with the micro-nat "
        "dict closure-broadcast — zero exchanges after the model "
        "collect.",
    ),
    (
        "image_resize_export",
        "Export resize: ONE mapInPandas straight off the source (decode "
        "→ exact area resample to the aspect bucket → real JPEG "
        "re-encode); bytes enter exactly one Python stage and never "
        "shuffle; the output projects scalar facts (len+md5) unless the "
        "with_bytes writeback variant is asked for.",
    ),
    (
        "embedding_prototypes",
        "D4 prototypicality: one Arrow scoring pass (per-row gemv "
        "against the broadcast codebook — partition-invariant micro "
        "rounding), then a single window shuffle on ivf_cluster for the "
        "top-frac flag; k-means clusters are size-balanced, so no skew "
        "treatment needed.",
    ),
    (
        "moore_lewis",
        "Moore-Lewis selection: both LM trainings happen at plan "
        "CONSTRUCTION (bounded-partials counting, the visible plan is "
        "only the scoring pass) — one mapInPandas with two closure-"
        "broadcast micro-nat tables, then a codegen projection for the "
        "HALF_UP per-gram average; zero exchanges after the model "
        "collects.",
    ),
    (
        "warc_ingest",
        "WARC/WET stage 0: archive shards explode to records in ONE "
        "mapInPandas (the synthesis applyInPandas group shuffle belongs "
        "to the fixture, not the operator — production reads shard "
        "blobs straight off the object store); per-task memory bounded "
        "by one shard, nothing shuffles after the scan.",
    ),
    (
        "refinedweb_pipeline",
        "Full RefinedWeb chain composed: after the fixture's archive "
        "build, the curation path is record-explode mapInPandas → "
        "html-strip codegen projection → line_clean projection → ONE "
        "langid Arrow stage → the fp window (single shuffle) for the "
        "dedup survivor. Stage composition adds no extra exchanges over "
        "the standalone operators.",
    ),
    (
        "audio_near_pairs",
        "Audio near-dup: synth+fingerprint are two mapInPandas stages "
        "off the range source (bytes never shuffle), then the shared "
        "banded hamming operator — one groupBy on (chunk_idx, "
        "chunk_val) with in-bucket expansion; chunks=8 gives exact "
        "recall to hamming<=7.",
    ),
    (
        "video_near_dup",
        "Video near-dup: MJPEG decode + middle-frame pHash in one "
        "Arrow pass, then the same banded operator as text/image/"
        "audio — four modalities through ONE pairing implementation.",
    ),
    (
        "filter_ablation",
        "Per-rule ablation accounting: five fail booleans in one "
        "codegen projection, ONE partial-aggregated global row (no "
        "per-rule passes), then a constant 5-row stack — corpus cost "
        "is a single scan regardless of rule count.",
    ),
    (
        "snapshot_merge",
        "Copy-on-write MERGE: the kept-rows side is a LEFT ANTI join "
        "against the (distinct) update key set — broadcast at "
        "incremental-crawl scale — unioned with the updates and "
        "published atomically as one snapshot; the parent snapshot "
        "remains time-travel readable.",
    ),
    (
        "bpe_gpt2_counts",
        "Public-vocab BPE counts: one ArrowEvalPython pass (the "
        "merges.txt table parsed once per worker from the closure-"
        "captured wire-format string) into a map-side-combined "
        "groupBy(source) — the same two-node shape as the frozen-vocab "
        "twin, proving a released vocab drops in without plan change.",
    ),
]


def main() -> None:
    from pii_filter_spark.session import get_spark

    import __spark_entry__ as em

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()

    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan evidence for the load-bearing queries\n\n"
        "Regenerate with `python tools/dump_plans.py` (writes this file).\n"
        "Plans captured at sf0.01 on local[4]; `AdaptiveSparkPlan "
        "isFinalPlan=false` because .explain renders the pre-execution "
        "plan — AQE re-optimizes at runtime (coalesce, skew split).\n"
    )
    for name, note in CASES:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.write(f"\n## {name}\n\n{note}\n\n```\n{buf.getvalue().strip()}\n```\n")

    # the flagship pipeline over the input_hint table (bytes pass-through)
    from pii_filter_spark.pipeline import transform
    from pii_filter_spark.sources.synth import build_input_table

    df = transform(build_input_table(spark, 100, num_partitions=4))
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    out.write(
        "\n## pipeline.transform (flagship image+caption scrub)\n\n"
        "One fused ArrowEvalPython over the caption column only — the "
        "MB-scale `bytes` column never enters a Python worker or a "
        "shuffle; it rides the scan straight to the write.\n\n"
        f"```\n{buf.getvalue().strip()}\n```\n"
    )
    with open(ROOT / "PLANS.md", "w") as f:
        f.write(out.getvalue())
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
