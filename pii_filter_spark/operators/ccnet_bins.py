"""CCNet-style per-language perplexity quality binning.

Wenzek et al. 2020 ("CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data", §4.3): after language ID, documents are
cut into head / middle / tail quality buckets by language-model
perplexity, with per-language cutoffs because perplexity scales differ
wildly across languages. CCNet trains the cutoffs on a SAMPLE of each
language and then applies them as plain threshold comparisons — it
never sorts the corpus — and that is exactly the shape here:

  1. one Arrow pass adds (lang, ppl) columns in place — the `lang` and
     `ppl` layers of the caption stage (operators/fused.caption_stage),
     the same layers the standalone langid / perplexity queries are
     oracle-checked through;
  2. a bounded deterministic sample per language picks threshold
     training rows by md5(id)-order (the repo's engine-portable
     pseudo-random permutation, same total order as
     ``textstats.stratified_take``), via the same TWO-PHASE salted
     window so one giant language never funnels through one task; the
     windows run on an (id, lang, ppl) projection, never the text;
  3. the tercile cutoffs are DISCRETE order statistics of the sampled
     (rounded) perplexities, computed driver-side over the ≤
     ``n_langs x SAMPLE_PER_LANG`` collected rows — the bounded-driver
     -work pattern shared with the DSIR ratio table and IVF training;
  4. cutoffs broadcast back as a tiny (lang, t_head, t_mid) table; the
     bin assignment is one broadcast join + one codegen CASE. Zero
     corpus-wide sorts, windows, or wide shuffles.

Scale note (10^12 rows): the only corpus shuffle is the phase-1/2
sample window over the ~16-byte (lang, salt) keyed projection, and the
langid/perplexity Arrow pass runs twice (threshold pass + scoring
pass) just as CCNet runs its scoring twice — trading a second bounded
compute pass for never materializing a corpus-sized score table.

Reference seam: the char-trigram LM (core/perplexity.perplexity) stands
in for CCNet's KenLM 5-gram model behind the stage's `ppl` layer.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fused import caption_stage

HEAD, MIDDLE, TAIL = "head", "middle", "tail"
SAMPLE_PER_LANG = 256  # threshold-training rows per language


def tercile_cutoffs(sorted_ppls: list) -> tuple:
    """Discrete tercile order statistics over an ASCENDING ppl list.

    (t_head, t_mid): ppl <= t_head -> head, <= t_mid -> middle, else
    tail. Discrete (an actual sampled value, no interpolation) so the
    threshold comparison is exact in any engine.
    """
    n = len(sorted_ppls)
    t_head = sorted_ppls[max(0, math.ceil(n / 3) - 1)]
    t_mid = sorted_ppls[max(0, math.ceil(2 * n / 3) - 1)]
    return t_head, t_mid


def ccnet_bins(df: DataFrame) -> DataFrame:
    """(doc_id, lang, ppl, bin): CCNet head/middle/tail per language of
    each row's `text`."""
    spark = df.sparkSession

    # Threshold pass: lang for every row (needed to stratify), ppl only
    # carried along — both evaluate in the same Arrow stage; the window
    # then sees a narrow (id, lang, ppl) projection. The scoring pass
    # below evaluates the same frame again.
    scored = caption_stage(df, ["lang", "ppl"], "text").select(
        F.col("doc_id"), "lang", F.round("ppl", 4).alias("ppl")
    )

    h = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(32))
    w1 = Window.partitionBy("lang", salt).orderBy(h, "doc_id")
    local = (
        scored.withColumn("_lrn", F.row_number().over(w1))
        .where(F.col("_lrn") <= SAMPLE_PER_LANG)
    )
    w2 = Window.partitionBy("lang").orderBy(h, "doc_id")
    sample = (
        local.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= SAMPLE_PER_LANG)
        .select("lang", "ppl")
    )

    # Bounded driver work: <= n_langs * SAMPLE_PER_LANG rows.
    by_lang: dict = {}
    for r in sample.collect():
        by_lang.setdefault(r["lang"], []).append(r["ppl"])
    cut_rows = [
        (lang, *tercile_cutoffs(sorted(ppls)))
        for lang, ppls in sorted(by_lang.items())
    ]
    # explicit DDL so an empty input yields an empty result, not a
    # schema-inference error
    cuts = spark.createDataFrame(
        cut_rows, "lang string, t_head double, t_mid double"
    )

    # Scoring pass: recompute (lang, ppl), broadcast-join the cutoffs,
    # one CASE. Every language present got a cutoff row (each non-empty
    # stratum samples >= 1 row), so a left join keeps what an inner one
    # would; unlike an inner join it lets constraint propagation infer no
    # isnotnull(lang) filter below the UDF projection, which would
    # evaluate the Python stage twice per row.
    return (
        scored.join(F.broadcast(cuts), "lang", "left")
        .select(
            "doc_id",
            "lang",
            "ppl",
            F.when(F.col("ppl") <= F.col("t_head"), F.lit(HEAD))
            .when(F.col("ppl") <= F.col("t_mid"), F.lit(MIDDLE))
            .otherwise(F.lit(TAIL))
            .alias("bin"),
        )
    )
