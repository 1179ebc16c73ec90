"""DSIR importance resampling: semantics + plan shape.

Oracle parity (vs DuckDB, sf0.001) is covered by test_queries.py via the
dsir_selection entry; this file pins the selection BEHAVIOR on a corpus
where the right answer is obvious, and the plan shape (broadcast ratio
join, no cartesian product).
"""

from pyspark.sql import functions as F

from pii_filter_spark.operators.dsir import K, NUM_BUCKETS, dsir_select, hashed_bucket
from tests.plans import Plan


def _corpus(spark):
    # target: astronomy vocabulary; raw docs 10-12 share it, 13-15 are
    # cooking text with zero overlap
    rows = [
        (1, "tgt", "telescope nebula galaxy redshift quasar telescope"),
        (2, "tgt", "galaxy cluster redshift survey telescope nebula"),
        (3, "tgt", "quasar spectra redshift nebula galaxy survey"),
        (10, "raw", "the telescope survey mapped each galaxy and nebula"),
        (11, "raw", "redshift of the quasar measured by the telescope"),
        (12, "raw", "galaxy redshift survey data from the nebula field"),
        (13, "raw", "simmer the onions then add butter salt and pepper"),
        (14, "raw", "knead the dough and bake until golden brown crust"),
        (15, "raw", "whisk eggs with cream sugar vanilla and cinnamon"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "source", "text"])


def test_dsir_prefers_target_like_docs(spark):
    out = dsir_select(_corpus(spark), F.col("source") == "tgt").collect()
    weights = {r.doc_id: r.dsir_weight_unats for r in out}
    # every target-vocab doc outranks every cooking doc
    assert min(weights[d] for d in (10, 11, 12)) > max(
        weights[d] for d in (13, 14, 15)
    )
    # target slice never appears in the selection
    assert set(weights) == {10, 11, 12, 13, 14, 15}


def test_dsir_top_k_is_deterministic_total_order(spark):
    # more raw docs than the selection keeps, so the top-K cut bites
    cooking = spark.createDataFrame(
        [(100 + i, "raw", f"stir the sauce {i} then season with salt {i % 7}")
         for i in range(2 * K)],
        ["doc_id", "source", "text"],
    )
    top = dsir_select(_corpus(spark).unionByName(cooking), F.col("source") == "tgt")
    a = [r.doc_id for r in top.collect()]
    b = [r.doc_id for r in top.collect()]
    assert a == b and len(a) == K
    assert set(a[:3]) == {10, 11, 12}


def test_dsir_empty_and_whitespace_docs_drop_out(spark):
    rows = [
        (1, "tgt", "alpha beta gamma"),
        (2, "raw", "alpha beta"),
        (3, "raw", ""),
        (4, "raw", "   \t  "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = dsir_select(df, F.col("source") == "tgt")
    assert [r.doc_id for r in out.collect()] == [2]


def test_hashed_bucket_range(spark):
    df = spark.range(20 * NUM_BUCKETS).select(
        hashed_bucket(F.col("id").cast("string")).alias("b")
    )
    mn, mx = df.agg(F.min("b"), F.max("b")).first()
    assert 0 <= mn and mx <= NUM_BUCKETS - 1


def test_dsir_plan_zero_shuffle_scoring(spark):
    """The ratio table constant-folds into a literal array and scoring
    is one aggregate HOF per doc: scan -> project -> TakeOrdered. No
    join, no exchange — the exploded-token shuffle keyed by doc_id is
    gone from the scoring side entirely."""
    plan = Plan(dsir_select(_corpus(spark), F.col("source") == "tgt"))
    assert plan.has("TakeOrderedAndProject")
    assert not plan.has("Join")
    assert not plan.has("Exchange")
