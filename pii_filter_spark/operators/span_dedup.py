"""Global sentence-span deduplication (C4-style) [north-rule addition].

Raffel et al. 2020 §2.2 deduplicate C4 by removing every occurrence but
one of any three-sentence span across the WHOLE corpus. The reference
pipeline has no counterpart (it is a per-row scrubber); this is the
corpus-global text-hygiene operator a 100 TB training-data build needs
next to document-level dedup (operators/dedup.py).

Semantics (identical in Spark and the DuckDB oracle):
  * sentences = trimmed non-empty matches of `[^.!?]+[.!?]*` (the same
    RE2-compatible pattern as operators/udtf_ops.SENTENCE_RE), indexed
    contiguously 0..n-1 AFTER the empty-filter — "consecutive sentences"
    means consecutive in the cleaned document;
  * a span = SPAN_SENTENCES consecutive sentences joined with one
    space, keyed by md5;
  * the occurrence with the smallest (doc_id, start_idx) is kept; every
    sentence of every later occurrence is removed (overlapping removals
    union, so a kept span that shares sentences with a removed one can
    lose members — a documented, deterministic rule, not C4's exact
    tie-break, which the paper leaves unspecified);
  * output per input row: original sentence count, removed count, and
    the surviving text (kept sentences joined with one space). Empty or
    sentence-free docs survive with counts 0 and text ''.

Scale shape (100 TB): one sentence explode (~10-50× rows but narrow),
one doc-partitioned window for the span lead, one shuffle on span_hash
for the global first-occurrence window (hash groups are tiny — no skew
amplification beyond true duplicate mass; a boilerplate span repeated
10^9 times lands in one window partition, which row_number streams
without materializing, unlike a collect_list), and one groupBy back on
doc_id. All expressions native Catalyst — no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .udtf_ops import SENTENCE_RE

SPAN_SENTENCES = 3  # C4's three-sentence span

# filter-AFTER-trim so indexes are contiguous over the cleaned sentences
_SENTS_EXPR = (
    "filter(transform(regexp_extract_all(text, '{re}', 0), x -> trim(x)),"
    " x -> x <> '')"
)


def sentences_expr():
    """array<string> of trimmed, non-empty sentences of `text`."""
    return F.expr(_SENTS_EXPR.format(re=SENTENCE_RE))


def span_dedup(df: DataFrame) -> DataFrame:
    """(doc_id, n_sentences, n_removed, text_dedup) with C4 span-dedup
    applied to `text`."""
    sents = df.select(
        F.col("doc_id").alias("_id"),
        F.posexplode_outer(sentences_expr()).alias(
            "sent_idx", "sentence"
        ),
    )

    w_doc = Window.partitionBy("_id").orderBy("sent_idx")
    leads_s = [F.lead("sentence", i).over(w_doc) for i in range(SPAN_SENTENCES)]
    leads_i = [F.lead("sent_idx", i).over(w_doc) for i in range(SPAN_SENTENCES)]
    spans = (
        sents.where(F.col("sentence").isNotNull())
        .select(
            "_id",
            F.col("sent_idx").alias("start_idx"),
            F.array(*leads_i).alias("member_idx"),
            F.md5(F.concat_ws(" ", *leads_s)).alias("span_hash"),
            leads_i[-1].alias("_last"),
        )
        .where(F.col("_last").isNotNull())
    )

    w_global = Window.partitionBy("span_hash").orderBy("_id", "start_idx")
    removals = (
        spans.withColumn("rn", F.row_number().over(w_global))
        .where(F.col("rn") > 1)
        .select("_id", F.explode("member_idx").alias("sent_idx"))
        .distinct()
    )

    return (
        sents.join(
            removals.withColumn("_rm", F.lit(1)), ["_id", "sent_idx"], "left"
        )
        .groupBy("_id")
        .agg(
            F.count("sentence").alias("n_sentences"),
            F.count("_rm").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rm").isNull()
                                & F.col("sentence").isNotNull(),
                                F.struct("sent_idx", "sentence"),
                            )
                        )
                    ),
                    lambda x: x["sentence"],
                ),
                " ",
            ).alias("text_dedup"),
        )
        .withColumnRenamed("_id", "doc_id")
    )
