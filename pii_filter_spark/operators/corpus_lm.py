"""Corpus-trained character-trigram LM: distributed training + scoring.

The seed-trained perplexity stage (core/perplexity.py) ships a FROZEN
model to executors — the right shape when a KenLM binary already
exists. Production pipelines also need the other direction: TRAIN the
n-gram model ON the corpus being curated (CCNet trains its per-language
LM on Wikipedia, then scores CommonCrawl; in-domain selection trains on
the target slice). This operator is that trainer, Spark-first:

  Phase 1 — distributed counting. ONE mapInPandas pass turns each Arrow
  batch into its local trigram Counter and emits (gram, cnt) partials —
  map-side combining in the truest sense: a partition contributes at
  most |charset|^3 rows (tens of thousands) NO MATTER how many
  documents it holds, so the single groupBy-sum shuffle moves
  (num_partitions x distinct-grams) rows, not corpus-sized data. This
  is the classic distributed LM-training shape (Brants et al. 2007,
  "Large Language Models in Machine Translation" — map-side combine +
  reduce-by-gram), minus the sharded serving they needed pre-broadcast.

  Phase 2 — bounded model extraction. The top-K (TOP_K) grams by (count, gram)
  — deterministic tie-break — plus two scalar aggregates (total count,
  distinct-gram count V) come back to the driver: K+2 bounded rows,
  never corpus-sized. Add-one-smoothed negative log-probs are computed
  driver-side in pure Python and quantized to INTEGER micro-nats (the
  DSIR trick: libm runs once per distinct gram in one process; executors
  and the DuckDB fixture oracle only ever see exact integers).

  Phase 3 — scoring. The micro-nat table broadcasts by closure capture
  (<= K entries) into one scoring pandas UDF: (doc_id, n_grams,
  nll_micronats) with ZERO shuffles. Downstream keep/drop thresholds on
  nll_micronats / n_grams compare exactly.

Normalization and trigram extraction are shared pure functions
(normalize_for_lm from core/perplexity; trigrams() here) used verbatim
by the train pass, the score pass, and the oracle twin.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Dict, Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.perplexity import normalize_for_lm
from .rowmap import map_rows

_BOS = "\x02"
MICRO = 1_000_000
TOP_K = 4096  # grams kept in a trained table; the rest score as OOV


def trigrams(text: str) -> List[str]:
    """Char trigrams of the LM-normalized text with a 2-char BOS pad —
    one gram per normalized character, zero for empty/symbol-only."""
    t = _BOS + _BOS + normalize_for_lm(text or "")
    return [t[i - 2 : i + 1] for i in range(2, len(t))]


def trigram_counts(docs: DataFrame) -> DataFrame:
    """(gram, cnt) global counts over `text`. One Arrow pass with per-batch Counter
    combine, one groupBy-sum shuffle of partition-local partials."""

    def _count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c: Counter = Counter()
            for t in pdf["text"]:
                c.update(trigrams(t if isinstance(t, str) else ""))
            if c:
                yield pd.DataFrame(
                    {"gram": list(c.keys()), "cnt": list(c.values())}
                )

    partials = docs.select("text").mapInPandas(
        _count, schema="gram string, cnt long"
    )
    return partials.groupBy("gram").agg(F.sum("cnt").alias("cnt"))


def train_micronat_table(
    counts: DataFrame, materialize: bool = True
) -> Tuple[Dict[str, int], int]:
    """(gram -> nll micro-nats, oov micro-nats) from global counts.
    Driver-side work is bounded: TOP_K rows + 2 scalars collected;
    add-one smoothing p = (cnt+1)/(total+V+1), OOV p = 1/(total+V+1).

    The counts table is localCheckpoint'd first (bounded: one row per
    distinct gram, |charset|^3 at most) so the two extraction jobs read
    materialized counts by contract — not by hoping the shuffle-stage
    reuse that happens to skip the counting scan on a warm context also
    holds after an executor loss recomputes lineage. Callers that
    already hold materialized counts (the fused Moore-Lewis path) pass
    materialize=False."""
    if materialize:
        counts = counts.localCheckpoint()
    total, v = counts.agg(
        F.sum("cnt").alias("t"), F.count(F.lit(1)).alias("v")
    ).first()
    total = int(total or 0)
    v = int(v or 0)
    top = (
        counts.orderBy(F.desc("cnt"), "gram").limit(TOP_K).collect()
    )
    denom = total + v + 1
    table = {
        r["gram"]: round(-math.log((int(r["cnt"]) + 1) / denom) * MICRO)
        for r in top
    }
    oov = round(-math.log(1 / denom) * MICRO)
    return table, oov


def corpus_lm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, nll_micronats): exact-integer negative
    log-likelihood of each doc's `text` under the trigram LM trained on
    the scored corpus itself (self-perplexity, the CCNet quality
    signal). Zero shuffles in the scoring pass."""
    table, oov = train_micronat_table(trigram_counts(docs))

    def _score(doc_id, t):
        gs = trigrams(t if isinstance(t, str) else "")
        yield doc_id, len(gs), sum(table.get(g, oov) for g in gs)

    out = map_rows(
        docs, ["doc_id", "text"],
        f"id {dict(docs.dtypes)['doc_id']}, n_grams long, nll_micronats long",
        _score,
    )
    return out.withColumnRenamed("id", "doc_id")


def corpus_lm_rows(texts: List[Tuple]) -> List[Tuple]:
    """Pure-Python twin of corpus_lm_scores for the fixture oracle:
    same trigrams(), same counting, same (count, gram) tie-break, same
    micro-nat quantization. texts = [(id, text), ...]."""
    c: Counter = Counter()
    for _, t in texts:
        c.update(trigrams(t or ""))
    total = sum(c.values())
    v = len(c)
    denom = total + v + 1
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    table = {g: round(-math.log((n + 1) / denom) * MICRO) for g, n in top}
    oov = round(-math.log(1 / denom) * MICRO)
    out = []
    for i, t in texts:
        gs = trigrams(t or "")
        out.append((i, len(gs), sum(table.get(g, oov) for g in gs)))
    return out


def moore_lewis_scores(docs: DataFrame, in_domain) -> DataFrame:
    """Moore-Lewis cross-entropy-difference selection (Moore & Lewis
    2010, "Intelligent Selection of Language Model Training Data"): rank
    general-corpus docs by H_in(doc) - H_gen(doc) — low means "reads
    like the in-domain slice but not like the general corpus". The
    CLASSIC in-domain selection method; DSIR (operators/dsir.py) is its
    hashed-importance-weights descendant, this is the LM-based original.

    Built from the distributed trainer: TWO trigram LMs (in-domain
    slice, full corpus) trained by the same bounded-partials pipeline,
    then ONE scoring Arrow pass computes both integer micro-nat NLLs
    simultaneously over `text`. Output (doc_id, n_grams, delta_micronats,
    avg_delta_micro): delta = nll_in - nll_gen exactly;
    avg_delta_micro = HALF_UP(delta / n_grams) — one IEEE divide of two
    exact integers, identical in both engines, HALF_UP matching
    F.round(double). Rank ascending for most-in-domain.

    Training is ONE counting scan of the corpus, not two: a single
    Arrow pass counts every gram twice (slice-conditional and global
    Counters side by side), the groupBy sums both columns in one
    shuffle, and the fused (gram, cnt_in, cnt) table — bounded by
    distinct-gram count — is materialized once; both LM tables extract
    from it. Identical counts to training each LM separately (the
    in-domain table sees exactly the grams with cnt_in > 0)."""

    def _count2(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c_in: Counter = Counter()
            c_all: Counter = Counter()
            for t, fl in zip(pdf["text"], pdf["_in_domain"]):
                gs = trigrams(t if isinstance(t, str) else "")
                c_all.update(gs)
                if fl:
                    c_in.update(gs)
            if c_all:
                grams = list(c_all.keys())
                yield pd.DataFrame({
                    "gram": grams,
                    "cnt_in": [c_in.get(g, 0) for g in grams],
                    "cnt": [c_all[g] for g in grams],
                })

    flag = in_domain if not isinstance(in_domain, str) else F.expr(in_domain)
    fused = (
        docs.select(F.col("text"), flag.alias("_in_domain"))
        .mapInPandas(_count2, schema="gram string, cnt_in long, cnt long")
        .groupBy("gram")
        .agg(F.sum("cnt_in").alias("cnt_in"), F.sum("cnt").alias("cnt"))
        .localCheckpoint()
    )
    counts_in = fused.where(F.col("cnt_in") > 0).select(
        "gram", F.col("cnt_in").alias("cnt")
    )
    counts_gen = fused.select("gram", "cnt")
    t_in, oov_in = train_micronat_table(counts_in, materialize=False)
    t_gen, oov_gen = train_micronat_table(counts_gen, materialize=False)

    def _score(doc_id, t):
        gs = trigrams(t if isinstance(t, str) else "")
        nll_in = sum(t_in.get(g, oov_in) for g in gs)
        nll_gen = sum(t_gen.get(g, oov_gen) for g in gs)
        yield doc_id, len(gs), nll_in - nll_gen

    out = map_rows(
        docs, ["doc_id", "text"],
        f"id {dict(docs.dtypes)['doc_id']}, n_grams long, delta_micronats long",
        _score,
    ).withColumnRenamed("id", "doc_id")
    avg = F.when(
        F.col("n_grams") > 0,
        F.round(F.col("delta_micronats") / F.col("n_grams")).cast("long"),
    )
    return out.select(
        "doc_id", "n_grams", "delta_micronats", avg.alias("avg_delta_micro")
    )


def moore_lewis_rows(texts: list, in_domain_ids: set) -> list:
    """Pure twin of moore_lewis_scores. texts = [(id, text), ...]."""
    from decimal import ROUND_HALF_UP, Decimal

    def table_for(subset):
        c: Counter = Counter()
        for _, t in subset:
            c.update(trigrams(t or ""))
        total, v = sum(c.values()), len(c)
        denom = total + v + 1
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
        tb = {g: round(-math.log((n + 1) / denom) * MICRO) for g, n in top}
        return tb, round(-math.log(1 / denom) * MICRO)

    t_in, oov_in = table_for([r for r in texts if r[0] in in_domain_ids])
    t_gen, oov_gen = table_for(texts)
    out = []
    for i, t in texts:
        gs = trigrams(t or "")
        d = sum(t_in.get(g, oov_in) for g in gs) - sum(
            t_gen.get(g, oov_gen) for g in gs
        )
        avg = (
            int(Decimal(repr(d / len(gs))).quantize(
                Decimal(1), rounding=ROUND_HALF_UP))
            if gs else None
        )
        out.append((i, len(gs), d, avg))
    return out
