"""Spark stage ↔ pure-Python oracle parity (scrub + quality), on the
deterministic synthetic corpus. This is the F1≥0.99 / byte-equality gate of
FIXTURES.md B3, exercised through the real Arrow-batched plan.
"""

import pandas as pd
import pytest

from pii_filter_spark.operators.fused import (
    fused_quality_scrub,
    quality_stage,
    scrub_stage,
)
from pii_filter_spark.sources.synth import gen_pandas
from tests.oracle import reference_semantics as oracle
from tests.plans import Plan

N = 400
SEED = 99


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = gen_pandas(N, seed=SEED)[["image_id", "caption"]]
    return spark.createDataFrame(pdf).repartition(8), pdf


def test_scrub_stage_byte_equality(spark, corpus):
    df, pdf = corpus
    got = {
        r["image_id"]: (r["scrubbed_caption"], r["pii_masked"])
        for r in scrub_stage(df).collect()
    }
    assert len(got) == N
    for _, row in pdf.iterrows():
        exp_text, exp_maps = oracle.scrub(row.caption)
        g_text, g_maps = got[row.image_id]
        assert g_text == exp_text, row.caption
        assert len(g_maps) == len(exp_maps)
        for gm, em in zip(g_maps, exp_maps):
            assert gm.placeholder == em["placeholder"]
            assert gm.original_value == em["original_value"]
            assert gm.type == em["type"]
            assert gm.span_start == em["span_start"]
            assert gm.span_end == em["span_end"]


def test_quality_stage_matches_oracle(spark, corpus):
    df, pdf = corpus
    got = {
        r["image_id"]: (r["keep"], list(r["drop_reasons"]))
        for r in quality_stage(df).collect()
    }
    mism = []
    for _, row in pdf.iterrows():
        exp = oracle.quality_drop_reasons(row.caption)
        kp, reasons = got[row.image_id]
        if reasons != exp or kp != (len(exp) == 0):
            mism.append((row.caption, reasons, exp))
    assert not mism, mism[:5]


def test_keep_drop_f1_is_1(spark, corpus):
    """keep/drop F1 vs oracle labels — target >= 0.99 (BASELINE.json)."""
    df, pdf = corpus
    got = {r["image_id"]: r["keep"] for r in quality_stage(df).collect()}
    exp = {
        row.image_id: len(oracle.quality_drop_reasons(row.caption)) == 0
        for _, row in pdf.iterrows()
    }
    tp = sum(1 for k in got if got[k] and exp[k])
    fp = sum(1 for k in got if got[k] and not exp[k])
    fn = sum(1 for k in got if not got[k] and exp[k])
    f1 = 2 * tp / (2 * tp + fp + fn)
    assert f1 >= 0.99


def test_null_caption_safe(spark):
    pdf = pd.DataFrame({"image_id": ["a", "b"], "caption": [None, "foto"]})
    df = spark.createDataFrame(pdf)
    rows = {r["image_id"]: r for r in quality_stage(scrub_stage(df)).collect()}
    assert rows["a"]["drop_reasons"] == ["empty"]
    assert rows["a"]["scrubbed_caption"] == ""
    assert rows["b"]["drop_reasons"] == ["too_short"]


def test_fused_stage_equals_chained_stages(spark, corpus):
    """fused_quality_scrub must be plan-for-plan replaceable with
    scrub_stage(quality_stage(df)) — same columns, same values."""
    df, _ = corpus
    chained = scrub_stage(quality_stage(df))
    fused = fused_quality_scrub(df)
    assert fused.columns == chained.columns
    a = {r["image_id"]: r for r in chained.collect()}
    b = {r["image_id"]: r for r in fused.collect()}
    assert a.keys() == b.keys()
    for k in a:
        ra, rb = a[k].asDict(True), b[k].asDict(True)
        assert ra == rb, k


def test_caption_paths_run_one_python_stage(spark, corpus, tmp_path):
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from pii_filter_spark.operators.fused import PartCounts
    from pii_filter_spark.pipeline import (
        batch_frame, batch_input, part_ranges, transform, with_part_id,
    )
    from pii_filter_spark.sources import table_io

    df, pdf = corpus
    for frame in (em.entry(spark), em.q_quality_full(spark, em.SF_DEFAULT), transform(df)):
        assert Plan(frame, executed=True).udfs_per_arrow_node() == [1]

    # one input file: every row keeps the part of the earlier whole-input rule
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(tmp_path / "one"))
    rows = with_part_id(table_io.read_table(spark, str(tmp_path / "one")), 8).select(
        "part_id", F.pmod(F.xxhash64("image_id"), F.lit(8)).alias("old")).collect()
    assert len(rows) == N
    assert all(r["part_id"] == r["old"] for r in rows)

    # run_pipeline's batch reads only the files whose part ranges meet it;
    # its counts are exact only while the counted UDF runs once per row in
    # result tasks, i.e. with no Exchange in the plan
    spark.createDataFrame(pdf).repartition(5).write.parquet(str(tmp_path / "in"))
    src = table_io.read_table(spark, str(tmp_path / "in"))
    ranges = part_ranges(src.inputFiles(), 8)
    assert [(r.start, r.stop) for r in ranges.values()] == [
        (0, 1), (1, 3), (3, 4), (4, 6), (6, 8)]
    counts = spark.sparkContext.accumulator({}, PartCounts())
    batch = batch_frame(batch_input(spark, ranges, src.schema, str(tmp_path / "in"), [0, 3, 5]), [0, 3, 5], counts)
    files = sorted(ranges)
    assert sorted(batch.inputFiles()) == [files[0], files[2], files[3]]
    plan = Plan(batch, executed=True)
    assert plan.udfs_per_arrow_node() == [1]
    assert not plan.has("Exchange")


def test_lsh_pair_operators_evaluate_their_signature_udf_once(spark, corpus):
    """The LSH pair operators bucket the output of a signature UDF and
    split the buckets into a native and a numpy branch. A plain posexplode
    or a filter on the UDF output drags the UDF below the exchange into
    each branch, so it runs twice per row; each operator must plan one
    ArrowEvalPython node with its one signature UDF."""
    from pyspark.sql import functions as F

    from pii_filter_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from pii_filter_spark.operators.similarity import cosine_near_pairs_lsh

    df, _ = corpus
    docs = df.select(F.col("image_id").alias("doc_id"),
                     F.col("caption").alias("text"))
    for pairs in (minhash_lsh_pairs(docs, threshold=0.5), simhash_near_pairs(docs)):
        assert Plan(pairs, executed=True).udfs_per_arrow_node() == [1]

    emb = spark.range(300, numPartitions=8).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.sin(F.col("id") % 40 + j) for j in range(8)]).alias("embedding"),
    )
    pairs = cosine_near_pairs_lsh(emb, threshold=0.9, planes=16, chunks=4, dim=8)
    assert Plan(pairs, executed=True).udfs_per_arrow_node() == [1]


def test_rules_without_lang_and_ppl_is_refused(corpus):
    """rules reads the lang and ppl columns: a layer selection without them
    fails while the plan is built."""
    from pii_filter_spark.operators.fused import caption_stage

    df, _ = corpus
    for layers in (["rules"], ["lang", "rules"], ["ppl", "rules", "scrub"]):
        with pytest.raises(ValueError, match="rules reads lang and ppl"):
            caption_stage(df, layers, "caption")
