"""Text-analysis operators over a document table (training-data pipeline).

All-native where possible (token counts and fingerprints stay in
codegen); langid and perplexity are layers of the one model-backed
caption stage (operators/fused.caption_stage).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# "BPE-ish" tokenizer regex: word pieces OR single non-space symbols —
# the standard pre-tokenization split used before byte-pair merging.
# Written with unicode property classes (not (?U)\w) so the IDENTICAL
# pattern runs under Java regex (Spark) and RE2 (DuckDB oracle).
BPE_TOKEN_RE = r"[\p{L}\p{N}_]+|[^\p{L}\p{N}_\s]"


def token_counts(df: DataFrame) -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens, n_chars) of `text` — all native
    expressions."""
    c = F.col("text")
    trimmed = F.trim(c)
    ws = F.when(
        c.isNotNull() & (trimmed != ""), F.size(F.split(trimmed, r"\s+"))
    ).otherwise(F.lit(0))
    bpe = F.when(c.isNotNull(), F.regexp_count(c, F.lit(BPE_TOKEN_RE))).otherwise(0)
    return df.select(
        F.col("doc_id"),
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.length(F.coalesce(c, F.lit(""))).alias("n_chars"),
    )


def bpe_exact_counts(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, n_bpe_tokens) — tokenizer-EXACT byte-level BPE counts under
    the frozen vocab (core/bpe.py), one Arrow-batched pandas UDF. This is
    the count training-export stages must use (pack_sequences boundaries,
    mixture token budgets); the native regex count in token_counts is the
    cheap pre-tokenization approximation for monitoring only."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _bpe(s: pd.Series) -> pd.Series:
        from ..core.bpe import frozen_bpe

        return pd.Series(frozen_bpe().counts_batch(s), dtype="int64")

    return df.select(F.col(id_col), _bpe(F.col("text")).alias("n_bpe_tokens"))


def bpe_counts_from_merges_txt(df: DataFrame, merges_txt: str) -> DataFrame:
    """(source, n_bpe_tokens) under an ARBITRARY released-format vocabulary:
    `merges_txt` is the content of a GPT-2-layout merges.txt (core/bpe
    parse_merges_txt), shipped to executors by closure capture (a merge
    table is ~KBs–1 MB — broadcast-variable territory is unnecessary) and
    parsed ONCE per worker. This is the public-vocab seam's Spark stage:
    point it at the target model's merges.txt and every count downstream
    (packing boundaries, mixture budgets) is that tokenizer's exact
    number."""
    from pyspark.sql.functions import pandas_udf

    holder: list = []

    @pandas_udf("long")
    def _bpe(s: pd.Series) -> pd.Series:
        from ..core.bpe import ByteBPE

        if not holder:
            holder.append(ByteBPE.from_merges_txt(merges_txt))
        return pd.Series(holder[0].counts_batch(s), dtype="int64")

    return df.select(F.col("source"), _bpe(F.col("text")).alias("n_bpe_tokens"))


def fingerprints(df: DataFrame) -> DataFrame:
    """Document fingerprints: md5 digest of whitespace-normalized lowercase
    text (exact-dup key) + a 64-bit xxhash (cheap join key)."""
    norm = F.regexp_replace(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))),
                            r"\s+", " ")
    return df.select(
        F.col("doc_id"),
        F.md5(norm).alias("fingerprint_md5"),
        F.xxhash64(norm).alias("fingerprint_64"),
    )


def language_id(df: DataFrame) -> DataFrame:
    """(doc_id, lang_detected): the caption stage's `lang` layer over
    `text`."""
    from .fused import caption_stage

    return caption_stage(df, ["lang"], "text").select(
        F.col("doc_id"), F.col("lang").alias("lang_detected")
    )


def perplexity_scores(df: DataFrame) -> DataFrame:
    """(doc_id, ppl): char-trigram perplexity of `text`, rounded to 4
    decimals."""
    from .fused import caption_stage

    return caption_stage(df, ["ppl"], "text").select(
        F.col("doc_id"), F.round("ppl", 4).alias("ppl")
    )


def stratified_take(df: DataFrame, n_per_stratum: int) -> DataFrame:
    """Deterministic stratified subsample: the first n rows per `lang`
    stratum in md5(doc_id)-order — the data-mixing/curation shape (cap each language
    / source / quality bucket at a quota) with cluster-invariant row
    selection. md5 over the stringified id gives an order-stable,
    engine-portable pseudo-random permutation (same expression exists in
    DuckDB, so the oracle is plain SQL — unlike xxhash64).

    TWO-PHASE window for skew: strata are often few and huge (5 language
    values over 10^12 rows), so a single window per stratum would push a
    whole language through one task. Phase 1 takes the local top-n per
    (stratum, salt(id)) — 32-way spread, each partition bounded;
    phase 2 re-ranks only the ≤ n*32 survivors per
    stratum. Selection is by a TOTAL order (md5, id), so the two-phase
    result is row-identical to the single-window form: the global top-n
    of a stratum is contained in the union of its per-salt top-n."""
    from pyspark.sql import Window

    h = F.md5(F.col("doc_id").cast("string"))
    salt = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(32))
    w1 = Window.partitionBy("lang", salt).orderBy(h, "doc_id")
    local = (
        df.withColumn("_lrn", F.row_number().over(w1))
        .where(F.col("_lrn") <= n_per_stratum)
    )
    w2 = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        local.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= n_per_stratum)
        .select("lang", "doc_id", F.col("_rn").alias("sample_rank"))
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    "repetitious" filters, adapted to sentence granularity because the
    corpus rows are single-line):

      * dup_sent_frac — fraction of sentences that are duplicates of an
        earlier sentence (1 - distinct/total);
      * top_word_frac — fraction of word occurrences taken by the single
        most frequent word.

    The sentence metrics are in-row HOFs (sentences per doc are few; the
    split uses the SAME RE2-safe pattern as the sentence UDTF so DuckDB
    reproduces it verbatim). The top-word count is RELATIONAL — explode
    words, count per (doc, word), max/sum per doc — because the in-row
    alternative is O(distinct × words) per document: quadratic on a
    100k-word web document. The shuffle keys on (doc, word), so hot
    words do not concentrate (doc_id spreads them), and word counting
    is strictly linear."""
    sents_raw = F.expr("regexp_extract_all(text, '[^.!?]+[.!?]*', 0)")
    staged = df.select(
        "doc_id",
        F.filter(
            F.transform(sents_raw, lambda s: F.trim(s)), lambda s: s != ""
        ).alias("_sents"),
        # split('') yields [''] — drop empties so blank docs count 0 words
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != ""
        ).alias("_words"),
    )
    n_sent = F.size("_sents")
    dup_frac = F.when(
        n_sent > 0,
        F.round(
            1.0
            - F.size(F.array_distinct("_sents")).cast("double") / n_sent, 4
        ),
    ).otherwise(F.lit(0.0))
    sent_stats = staged.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        dup_frac.alias("dup_sent_frac"),
        F.size("_words").alias("_n_words"),
    )
    word_counts = (
        staged.select("doc_id", F.explode_outer("_words").alias("_w"))
        .where(F.col("_w").isNotNull())
        .groupBy("doc_id", "_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy("doc_id")
        .agg(F.max("_c").alias("_top"))
    )
    joined = sent_stats.join(word_counts, "doc_id", "left")
    top_frac = F.when(
        F.col("_n_words") > 0,
        F.round(F.col("_top").cast("double") / F.col("_n_words"), 4),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "doc_id",
        "n_sentences",
        "dup_sent_frac",
        top_frac.alias("top_word_frac"),
    )


def contamination_flags(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag documents whose `text` shares any
    word 8-gram with the `text` of a benchmark/eval set (the GPT-3/PaLM
    data-prep recipe; 8 is the conventional window). Output: (doc_id,
    contaminated boolean).

    Plan: both sides normalize identically (lower, whitespace-collapse)
    and explode to distinct n-gram rows; the benchmark side is tiny by
    definition (an eval set), so the semi-join broadcasts — each doc
    n-gram probes a hash map, no shuffle of the corpus side. Docs
    shorter than 8 words cannot be contaminated. At production scale
    the benchmark n-gram set is exactly the bloom-filter build side;
    the semi-join keeps the declarative form.
    """
    def grams(df, carry):
        toks = F.filter(
            F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "),
            lambda w: w != "",
        )
        staged = df.select(*carry, toks.alias("_t")).where(F.size("_t") >= 8)
        g = F.transform(
            F.sequence(F.lit(0), F.size("_t") - 8),
            lambda i: F.concat_ws(" ", F.slice("_t", i + 1, 8)),
        )
        return staged.select(*carry, F.explode(F.array_distinct(g)).alias("_g"))

    bench_grams = grams(benchmark, []).distinct()
    doc_grams = grams(docs, ["doc_id"])
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "_g", "leftsemi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


def top_ngrams(df: DataFrame) -> DataFrame:
    """Corpus-level vocabulary stats: the 20 most frequent word bigrams
    with counts — the standard corpus-inspection step before choosing
    boilerplate/stop filters. Output: (ngram, cnt, rank), rank 1-based
    with (count desc, ngram asc) ties.

    Plan: explode n-grams (NOT distinct per doc — corpus frequency
    counts every occurrence), groupBy with map-side partial aggregation,
    then a two-phase top-k: local top-k per hash-salt of the ngram, then
    one tiny global sort of <= salt_buckets*k survivors — no global sort
    of the full vocabulary ever happens."""
    from pyspark.sql import Window

    n, k = 2, 20

    toks = F.filter(
        F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " "),
        lambda w: w != "",
    )
    staged = df.select(toks.alias("_t")).where(F.size("_t") >= n)
    grams = staged.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - n),
                lambda i: F.concat_ws(" ", F.slice("_t", i + 1, n)),
            )
        ).alias("ngram")
    )
    counts = grams.groupBy("ngram").agg(F.count(F.lit(1)).alias("cnt"))
    salt = F.pmod(F.xxhash64("ngram"), F.lit(32))
    w1 = Window.partitionBy(salt).orderBy(F.desc("cnt"), F.asc("ngram"))
    local = counts.withColumn("_r", F.row_number().over(w1)).where(
        F.col("_r") <= k
    )
    w2 = Window.partitionBy().orderBy(F.desc("cnt"), F.asc("ngram"))
    return (
        local.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("ngram", "cnt", "rank")
    )
