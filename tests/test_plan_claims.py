"""Plan claims: the physical-plan shape each load-bearing query keeps at
sf0.01. The scale story rests on these shapes: a caption UDF evaluated
once per row, `bytes` never in a shuffle, dimension joins broadcast,
windows partitioned (never one global window), no shuffle a query does
not need.

Each CLAIMS entry maps a `__spark_entry__.queries()` name (or
`pipeline.transform`) to the properties of its plan, as the `Plan`
method that reads each one (tests/plans.py) and the value it must
return. `nodes` counts every node in COUNTED: a name left out must not
appear. The plan is the one built before execution; properties under
`executed` are read from AQE's final plan after a collect. Every plan
must also keep `bytes` out of its shuffles and broadcasts.

Claims asserted elsewhere: the minhash signature UDF runs once
(test_spark_stages::test_lsh_pair_operators_evaluate_their_signature_udf_once),
entry()/quality_full/pipeline.transform run one Python stage
(test_spark_stages::test_caption_paths_run_one_python_stage), and the
url_filter DataFrame-blocklist path broadcasts
(test_url_rules::test_join_path_is_broadcast), and a merged snapshot's
parent stays readable
(test_snapshots::test_merge_upsert_cow_semantics_and_time_travel).

A change to any of these plans updates its entry here.
"""

import os

import pytest

import __spark_entry__ as em
from tests.plans import Plan

SF = os.path.join(os.path.dirname(em.SF_DEFAULT), "sf0.01")
COUNTED = (
    "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "Exchange",
    "BroadcastExchange", "BroadcastHashJoin", "SortMergeJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct", "Window",
    "TakeOrderedAndProject", "Generate",
)
SPREAD = "hashpartitioning(doc_id), REPARTITION_BY_NUM"  # the test scan spread

CLAIMS = {
    # fused scrub: one UDF over the caption only, pruned scan
    "pii_scrub_captions": dict(
        nodes={"ArrowEvalPython": 1, "Exchange": 1},
        python_calls=["caption_scrub(caption)"],
        read_schemas=[["doc_id", "text"]],
        shuffles=[SPREAD],
    ),
    # both dimension joins broadcast; only partial aggregates shuffle
    "golden_broadcast_join": dict(
        nodes={"Exchange": 1, "BroadcastExchange": 2, "BroadcastHashJoin": 2},
        joins=["BroadcastHashJoin Inner", "BroadcastHashJoin Inner"],
        shuffle_inputs=[["n_name", "count", "sum"]],
    ),
    # map-side combine inside codegen: only the partials shuffle
    "metrics_rollup": dict(
        nodes={"Exchange": 1},
        shuffle_inputs=[["l_returnflag", "l_linestatus", "sum", "sum", "sum",
                          "count"]],
        executed=dict(interpreted=[]),
    ),
    "resume_antijoin": dict(
        nodes={"Exchange": 1, "BroadcastExchange": 1, "BroadcastHashJoin": 1},
        joins=["BroadcastHashJoin LeftAnti"],
    ),
    # one shuffle on the key; rn == 1 pushed below the sort
    "dedup_window": dict(
        nodes={"Exchange": 1, "Window": 1, "WindowGroupLimit": 2},
        shuffles=["hashpartitioning(o_custkey), ENSURE_REQUIREMENTS"],
        window_keys=[["o_custkey"]],
    ),
    # one signature UDF per branch before execution, the bucket shuffle
    # reused at run time; native + vectorized expansion, one dropDuplicates
    "minhash_lsh_pairs": dict(
        nodes={"ArrowEvalPython": 2, "MapInPandas": 1, "Exchange": 5, "Generate": 3},
        python_calls=["_sig(text)", "_sig(text)", "_numpy_pairs(band, bucket, ms)"],
        generates=["posexplode outer", "explode", "posexplode outer"],
        shuffles=[SPREAD, "hashpartitioning(band, bucket), ENSURE_REQUIREMENTS",
                  SPREAD, "hashpartitioning(band, bucket), ENSURE_REQUIREMENTS",
                  "hashpartitioning(id_a, id_b), ENSURE_REQUIREMENTS"],
        executed=dict(nodes={"ReusedExchange": 1}),
    ),
    # salted first window, bounded second window, no global sort
    "stratified_sample": dict(
        nodes={"Exchange": 2, "Window": 2, "WindowGroupLimit": 4},
        shuffles=["hashpartitioning(lang, _w0), ENSURE_REQUIREMENTS",
                  "hashpartitioning(lang), ENSURE_REQUIREMENTS"],
        window_keys=[["lang", "_w0"], ["lang"]],
    ),
    # salted two-phase dedup min, semi-join, then the two-phase sample
    "curation_pipeline": dict(
        nodes={"Exchange": 6, "BroadcastExchange": 1, "BroadcastHashJoin": 1,
               "Window": 2},
        joins=["BroadcastHashJoin LeftSemi"],
        shuffles=[SPREAD, SPREAD,
                  "hashpartitioning(_dk, _s), ENSURE_REQUIREMENTS",
                  "hashpartitioning(_dk), ENSURE_REQUIREMENTS",
                  "hashpartitioning(lang, _w0), ENSURE_REQUIREMENTS",
                  "hashpartitioning(lang), ENSURE_REQUIREMENTS"],
        window_keys=[["lang", "_w0"], ["lang"]],
    ),
    # eval n-grams broadcast into a semi-join; only the eval side aggregates
    "contamination": dict(
        nodes={"Exchange": 4, "BroadcastExchange": 2, "BroadcastHashJoin": 2,
               "Generate": 2},
        joins=["BroadcastHashJoin LeftSemi", "BroadcastHashJoin LeftOuter"],
        shuffles=[SPREAD, SPREAD, SPREAD,
                  "hashpartitioning(_g), ENSURE_REQUIREMENTS"],
    ),
    # the MapInPandas is the synthetic source; one shuffle, on shard_id
    "export_prep": dict(
        nodes={"MapInPandas": 1, "Exchange": 1, "Window": 1},
        python_calls=["_gen(id)"],
        shuffles=["hashpartitioning(shard_id), ENSURE_REQUIREMENTS"],
        window_keys=[["shard_id"]],
        executed=dict(interpreted=[]),
    ),
    # scoring in place: no join, no explode, top-k without a global sort
    "dsir_selection": dict(
        nodes={"Exchange": 1, "TakeOrderedAndProject": 1},
        shuffles=[SPREAD],
    ),
    # one vectorized matmul over the scan, no cross join
    "embedding_near_pairs": dict(
        nodes={"MapInPandas": 1, "Exchange": 2},
        python_calls=["_pairs(vec_id, embedding)"],
        shuffles=["hashpartitioning(vec_id), REPARTITION_BY_NUM"] * 2,
    ),
    # native rules; the `aggregate` fold (CodegenFallback) keeps one
    # Project out of codegen
    "quality_filter_heuristic": dict(
        nodes={},
        read_schemas=[["doc_id", "text"]],
        interpreted=["Project"],
    ),
    "sensitive_scrub": dict(
        nodes={"ArrowEvalPython": 1, "Exchange": 1},
        python_calls=["caption_scrub(caption)"],
        read_schemas=[["doc_id", "text"]],
        shuffles=[SPREAD],
    ),
    # explode_outer + a filter above it keeps the UDF at one evaluation
    "pii_type_counts": dict(
        nodes={"ArrowEvalPython": 1, "Exchange": 2, "Generate": 1},
        python_calls=["caption_scrub(caption)"],
        generates=["explode outer"],
    ),
    # no Python; per-doc lead window, span_hash first-occurrence window
    "span_dedup": dict(
        nodes={"Exchange": 4, "BroadcastExchange": 1, "BroadcastHashJoin": 1,
               "Window": 2, "Generate": 3},
        generates=["posexplode outer", "posexplode outer", "explode"],
        window_keys=[["_id"], ["span_hash"]],
        shuffles=[SPREAD, SPREAD,
                  "hashpartitioning(span_hash), ENSURE_REQUIREMENTS",
                  "hashpartitioning(_id, sent_idx), ENSURE_REQUIREMENTS"],
        joins=["BroadcastHashJoin LeftOuter"],
    ),
    # rules in one codegen projection; only the synthetic source is Python
    "image_quality_filter": dict(
        nodes={"MapInPandas": 1},
        python_calls=["_gen(id)"],
        interpreted=[],
    ),
    # source, injection and scrub are the only Python nodes; no shuffle
    "image_metadata_scrub": dict(
        nodes={"MapInPandas": 3},
        python_calls=["_gen(id)", "_inject(image_id, bytes)",
                      "_scrub(image_id, bytes)"],
    ),
    # prefix sum as a window per group, never one global window; no join
    "pack_sequences": dict(
        nodes={"ArrowEvalPython": 1, "Exchange": 2, "Window": 1},
        python_calls=["_bpe(text)"],
        window_keys=[["grp"]],
    ),
    # span hashes exploded once (posexplode_outer); span_hash window and
    # the removal groupBy are the shuffles beyond the scan spreads
    "exact_substring": dict(
        nodes={"Exchange": 4, "BroadcastExchange": 1, "BroadcastHashJoin": 1,
               "Window": 1, "Generate": 1},
        generates=["posexplode outer"],
        shuffles=[SPREAD, SPREAD,
                  "hashpartitioning(span_hash), ENSURE_REQUIREMENTS",
                  "hashpartitioning(_id), ENSURE_REQUIREMENTS"],
    ),
    # map-only, no UDF; the tag array staged in its own projection
    "line_clean": dict(
        nodes={"Exchange": 1, "Project": 2},
        shuffles=[SPREAD],
    ),
    # one embedding pass off the source; the cosine fold is JVM-side but
    # interpreted (`aggregate` is CodegenFallback); no exchange
    "clip_alignment": dict(
        nodes={"MapInPandas": 2},
        python_calls=["_gen(id)", "_embed(image_id, bytes, caption)"],
        interpreted=["Project"],
    ),
    # re-encode + pHash off the scan, then the banded pair operator
    "pixel_phash_pairs": dict(
        nodes={"MapInPandas": 5, "Exchange": 3, "Generate": 3},
        python_calls=["_re(image_id, bytes)", "_hash(image_id, bytes)",
                      "_re(image_id, bytes)", "_hash(image_id, bytes)",
                      "_numpy_pairs(band, bucket, ms)"],
        shuffles=["hashpartitioning(band, bucket), ENSURE_REQUIREMENTS"] * 2
        + ["hashpartitioning(id_a, id_b), ENSURE_REQUIREMENTS"],
    ),
    # the shared decode pass is checkpointed while the query is built, so
    # no Python runs here; survivors by a two-phase min and a semi-join
    "multimodal_curation": dict(
        nodes={"Exchange": 2, "BroadcastExchange": 3, "BroadcastHashJoin": 3},
        shuffles=["hashpartitioning(pixel_phash, _s), ENSURE_REQUIREMENTS",
                  "hashpartitioning(pixel_phash), ENSURE_REQUIREMENTS"],
        joins=["BroadcastHashJoin LeftOuter", "BroadcastHashJoin LeftSemi",
               "BroadcastHashJoin LeftOuter"],
    ),
    "ccnet_normalize": dict(
        nodes={"Exchange": 1},
        shuffles=[SPREAD],
        executed=dict(interpreted=[]),
    ),
    # the stage's lang + ppl layers in one UDF, cutoffs broadcast
    "ccnet_bins": dict(
        nodes={"ArrowEvalPython": 1, "Exchange": 1, "BroadcastExchange": 1,
               "BroadcastHashJoin": 1},
        python_calls=["lang_ppl(text)"],
        joins=["BroadcastHashJoin LeftOuter"],
        shuffles=[SPREAD],
    ),
    "split_assignment": dict(
        nodes={},
        read_schemas=[["doc_id"]],
        interpreted=[],
    ),
    # edges and components are computed while the query is built; the plan
    # joins the fixture ids to the component labels by broadcast
    "cross_modal_dedup": dict(
        nodes={"MapInPandas": 2, "BroadcastExchange": 2, "BroadcastHashJoin": 2},
        python_calls=["_re(image_id, bytes)", "_gen(id)"],
        joins=["BroadcastHashJoin Inner", "BroadcastHashJoin LeftOuter"],
    ),
    # banded prefix sum: one window per size band, no global window
    "compaction_plan": dict(
        nodes={"Exchange": 1, "Window": 1},
        shuffles=["hashpartitioning(_band), ENSURE_REQUIREMENTS"],
        window_keys=[["_band"]],
    ),
    # one scoring pass over the source union; keep in codegen
    "image_sharpness": dict(
        nodes={"MapInPandas": 2},
        python_calls=["_re(image_id, bytes)", "_score(image_id, bytes)"],
        interpreted=[],
    ),
    "url_filter": dict(
        nodes={},
        read_schemas=[["doc_id"]],
        interpreted=[],
    ),
    "html_extract": dict(
        nodes={"Exchange": 1},
        shuffles=[SPREAD],
        executed=dict(interpreted=[]),
    ),
    "jpeg_exif_scrub": dict(
        nodes={"MapInPandas": 3},
        python_calls=["_gen(id)", "_inject(image_id, bytes)",
                      "_scrub(image_id, bytes)"],
    ),
    # the model is trained while the query is built; one scoring pass
    "corpus_lm_perplexity": dict(
        nodes={"MapInPandas": 1, "Exchange": 1},
        python_calls=["_score(doc_id, text)"],
        shuffles=[SPREAD],
    ),
    # one resize pass off the source, no exchange
    "image_resize_export": dict(
        nodes={"MapInPandas": 2},
        python_calls=["_gen(id)", "_resize(image_id, bytes)"],
    ),
    # one scoring pass, one window shuffle on ivf_cluster
    "embedding_prototypes": dict(
        nodes={"MapInPandas": 1, "Exchange": 1, "Window": 2},
        python_calls=["_score(vec_id, embedding)"],
        shuffles=["hashpartitioning(ivf_cluster), ENSURE_REQUIREMENTS"],
        window_keys=[["ivf_cluster"], ["ivf_cluster"]],
    ),
    # both LMs trained while the query is built; one scoring pass
    "moore_lewis": dict(
        nodes={"MapInPandas": 1, "Exchange": 1},
        python_calls=["_score(doc_id, text)"],
        shuffles=[SPREAD],
        executed=dict(interpreted=[]),
    ),
    # the group shuffle is the archive fixture's; nothing shuffles after
    "warc_ingest": dict(
        nodes={"MapInPandas": 1, "FlatMapGroupsInPandas": 1, "Exchange": 1},
        python_calls=["_build(doc_id, text, archive_num)", "_parse(archive_id, data)"],
        shuffles=["hashpartitioning(archive_num), ENSURE_REQUIREMENTS"],
    ),
    # archive fixture, record explode, the stage's lang layer, the fp window
    "refinedweb_pipeline": dict(
        nodes={"ArrowEvalPython": 1, "MapInPandas": 1,
               "FlatMapGroupsInPandas": 1, "Exchange": 2, "Window": 1},
        python_calls=["_build(doc_id, html, archive_num)", "_parse(archive_id, data)",
                      "lang(text_clean)"],
        shuffles=["hashpartitioning(archive_num), ENSURE_REQUIREMENTS",
                  "hashpartitioning(fp), ENSURE_REQUIREMENTS"],
        window_keys=[["fp"]],
    ),
    # synth + fingerprint off the range source, then the banded operator
    "audio_near_pairs": dict(
        nodes={"MapInPandas": 5, "Exchange": 5, "Generate": 3},
        python_calls=["planted_tones(id)", "_fp(audio_id, bytes)", "planted_tones(id)",
                      "_fp(audio_id, bytes)", "_numpy_pairs(band, bucket, ms)"],
        shuffles=["RoundRobinPartitioning(), REPARTITION_BY_NUM",
                  "hashpartitioning(band, bucket), ENSURE_REQUIREMENTS"] * 2
        + ["hashpartitioning(id_a, id_b), ENSURE_REQUIREMENTS"],
    ),
    "video_near_dup": dict(
        nodes={"MapInPandas": 5, "Exchange": 5, "Generate": 3},
        python_calls=["planted_clips(id)", "_fp(video_id, bytes)", "planted_clips(id)",
                      "_fp(video_id, bytes)", "_numpy_pairs(band, bucket, ms)"],
        shuffles=["RoundRobinPartitioning(), REPARTITION_BY_NUM",
                  "hashpartitioning(band, bucket), ENSURE_REQUIREMENTS"] * 2
        + ["hashpartitioning(id_a, id_b), ENSURE_REQUIREMENTS"],
    ),
    # one global partial-aggregated row, then a constant stack; the
    # shared rule staging holds the `aggregate` fold, outside codegen
    "filter_ablation": dict(
        nodes={"Exchange": 1, "Generate": 1},
        read_schemas=[["text"]],
        shuffles=["SinglePartition, ENSURE_REQUIREMENTS"],
        generates=["stack"],
        executed=dict(interpreted=["Project"]),
    ),
    # the merge runs while the query is built; the query scans the result
    "snapshot_merge": dict(
        nodes={},
        read_schemas=[["doc_id", "text", "rev"]],
    ),
    # one UDF pass into a groupBy(source)
    "bpe_gpt2_counts": dict(
        nodes={"ArrowEvalPython": 1, "Exchange": 2},
        python_calls=["_bpe(text)"],
        shuffles=[SPREAD, "hashpartitioning(source), ENSURE_REQUIREMENTS"],
    ),
    # one fused UDF over the caption; bytes rides the scan to the write
    "pipeline.transform": dict(
        nodes={"ArrowEvalPython": 1, "MapInPandas": 1},
        python_calls=["_gen(id)", "caption_quality_scrub(caption)"],
    ),
}


def _frame(spark, name):
    if name == "pipeline.transform":
        from pii_filter_spark.pipeline import transform
        from pii_filter_spark.sources.synth import build_input_table

        return transform(build_input_table(spark, 100, num_partitions=4))
    return em.queries()[name](spark, SF)


def _check(plan, claim, counted):
    claim = dict(claim)
    nodes = dict.fromkeys(counted, 0) | claim.pop("nodes", {})
    assert {n: plan.count(n) for n in nodes} == nodes, plan.text
    assert "bytes" not in plan.exchanged_columns(), plan.text
    for prop, want in claim.items():
        assert getattr(plan, prop)() == want, (prop, plan.text)


@pytest.mark.parametrize("name", list(CLAIMS))
def test_plan_claim(spark, name):
    claim = dict(CLAIMS[name])
    executed = claim.pop("executed", None)
    df = _frame(spark, name)
    _check(Plan(df), claim, COUNTED)
    if executed:
        _check(Plan(df, executed=True), executed, ())


def test_ccnet_bins_plan_holds_with_constraint_propagation(spark):
    """ccnet_bins keeps its claimed plan (one lang+ppl UDF) with Spark's
    default constraint propagation on, as in a session that get_spark did
    not build: no inferred filter may evaluate the UDF a second time."""
    key = "spark.sql.constraintPropagation.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        test_plan_claim(spark, "ccnet_bins")
    finally:
        spark.conf.set(key, before)
