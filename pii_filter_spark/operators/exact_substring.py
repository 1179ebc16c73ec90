"""Exact-substring deduplication (Lee et al. 2022) [north-rule addition].

"Deduplicating Training Data Makes Language Models Better" (Lee et al.
2022, §4 ExactSubstr) removes every occurrence but one of any token
span duplicated anywhere in the corpus. This is the dedup granularity
that document-level MinHash (operators/dedup.py) and C4 sentence-span
dedup (operators/span_dedup.py) both miss: long verbatim passages
embedded in otherwise-different documents. The reference pipeline has
no counterpart (per-row scrubber); this is a training-corpus hygiene
operator the north rule's pipeline tier mandates.

The paper's suffix-array construction is a shared-memory algorithm; the
Spark-native equivalent is fixed-length shingle spans with stride 1:
every duplicated SPAN_TOKENS-gram beyond its global first occurrence
is removed, which removes exactly the token set belonging to duplicated
substrings of length >= SPAN_TOKENS (a duplicated region of length
L >= span covers L-span+1 duplicate grams whose union is the full
region).

Semantics (identical in Spark and the pure-Python fixture twin):
  * tokens = whitespace split of trimmed text (original case — the
    surviving text is reconstructed from them, single-space joined);
  * span hash = md5 of SPAN_TOKENS consecutive tokens joined with one
    space, computed IN-ROW via higher-order functions (transform /
    sequence / slice) — no per-doc window, no Python;
  * the occurrence with the smallest (doc_id, start_idx) is kept;
    every token of every later occurrence is removed (overlapping
    removals union — same deterministic rule as span_dedup);
  * output per input row: (doc_id, n_tokens, n_removed, text_dedup).
    Docs shorter than SPAN_TOKENS survive intact.

Scale shape (100 TB): one codegen'd projection computes all span hashes
in-row; one explode of (doc, start, hash) — narrow rows; ONE shuffle on
span_hash for the global first-occurrence window (row_number streams a
boilerplate span duplicated 10^9 times without materializing it); one
tiny groupBy of removal starts back onto the doc; reconstruction is
in-row HOF interval algebra. Two shuffles total, both on uniform or
duplicate-mass-proportional keys.
"""

from __future__ import annotations

import hashlib
import re
from typing import Dict, Iterable, List, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .quality_stage import ASCII_WS

# Lee et al. 2022 deploy 50 tokens; the synthetic documents average ~54
# tokens, so 20 keeps cross-document duplication visible
SPAN_TOKENS = 20


def _tokens_col():
    """array<string> of original-case whitespace tokens (trim + split +
    drop empties) — reconstruction-safe, same recipe as dsir/textstats.
    NULL text behaves as empty (the twin's `text or ""`)."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    return F.filter(
        F.split(F.regexp_replace(F.trim(txt), r"\s+", " "), " "),
        lambda w: w != "",
    )


def exact_substring_dedup(df: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_removed, text_dedup) of (doc_id, text) rows,
    with every duplicated SPAN_TOKENS-gram beyond its global first
    occurrence removed."""
    span = F.lit(SPAN_TOKENS)

    toks = df.select(F.col("doc_id").alias("_id"), _tokens_col().alias("toks"))
    n = F.size("toks")
    # all span hashes of one doc, computed in-row — no per-doc window
    span_hashes = F.when(
        n >= span,
        F.transform(
            F.sequence(F.lit(0), n - span),
            lambda i: F.md5(
                F.array_join(F.slice("toks", i + 1, span), " ").cast("binary")
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashed = toks.select("_id", "toks", span_hashes.alias("hs"))

    # posexplode_outer, NOT posexplode: the plain variant makes Catalyst
    # insert a size(hs)>0 pre-filter below the Generate, which re-runs
    # the md5 span-hash transform once for the filter and once per
    # emitted row (the round-1 explode-over-expression trap, same guard
    # as dedup.py). The outer null row (docs shorter than span) is
    # dropped ABOVE the Generate, where hs is already materialized.
    spans = hashed.select(
        "_id", F.posexplode_outer("hs").alias("start_idx", "span_hash")
    ).where(F.col("span_hash").isNotNull())
    w_global = Window.partitionBy("span_hash").orderBy("_id", "start_idx")
    rm = (
        spans.withColumn("rn", F.row_number().over(w_global))
        .where(F.col("rn") > 1)
        .groupBy("_id")
        .agg(F.collect_list("start_idx").alias("rm_starts"))
    )

    # join removals back onto the CHEAP toks frame, not `hashed` — the
    # md5 span-hash projection is the expensive part and must be
    # evaluated once (in the explode branch), not re-run per join probe
    joined = toks.join(rm, "_id", "left")
    starts = F.coalesce(F.col("rm_starts"), F.array().cast("array<int>"))
    kept = F.filter(
        F.transform(
            "toks", lambda x, i: F.struct(i.alias("i"), x.alias("x"))
        ),
        lambda p: ~F.exists(
            starts, lambda s: (p["i"] >= s) & (p["i"] < s + span)
        ),
    )
    return joined.select(
        F.col("_id").alias("doc_id"),
        n.alias("n_tokens"),
        (n - F.size(kept)).alias("n_removed"),
        F.array_join(F.transform(kept, lambda p: p["x"]), " ").alias(
            "text_dedup"
        ),
    )


# ---------------------------------------------------------------------------
# pure-Python twin (fixture oracle; executor-free re-derivation)
# ---------------------------------------------------------------------------


def _tokenize(text: str) -> List[str]:
    return [
        w
        for w in re.sub(ASCII_WS, " ", (text or "").strip(" ")).split(" ")
        if w != ""
    ]


def exact_substring_dedup_rows(
    rows: Iterable[Tuple[int, str]],
) -> List[Tuple[int, int, int, str]]:
    """Twin of exact_substring_dedup: processing docs in id order and
    spans in start order IS the (doc_id, start_idx) window order."""
    toks: Dict[int, List[str]] = {d: _tokenize(t) for d, t in rows}
    first: Dict[str, Tuple[int, int]] = {}
    removed: Dict[int, set] = {}
    for d in sorted(toks):
        ts = toks[d]
        for i in range(len(ts) - SPAN_TOKENS + 1):
            key = hashlib.md5(
                " ".join(ts[i : i + SPAN_TOKENS]).encode("utf-8")
            ).hexdigest()
            if key in first:
                removed.setdefault(d, set()).update(
                    range(i, i + SPAN_TOKENS)
                )
            else:
                first[key] = (d, i)
    out = []
    for d in sorted(toks):
        ts = toks[d]
        rm = removed.get(d, set())
        kept = [w for i, w in enumerate(ts) if i not in rm]
        out.append((d, len(ts), len(ts) - len(kept), " ".join(kept)))
    return out
