"""Native SQL-expressible quality rules for the documents table.

`heuristic_keep` and `rule_ablation` evaluate a C4/Gopher rule subset as
Catalyst column expressions (no Python, no Arrow transfer) so their DuckDB
oracles can render the same rules as plain SQL. This is a different
semantic from the caption rules in core/quality.py (which the caption
stage in operators/fused.py runs): only `#` counts as a symbol, tokens
split on ASCII whitespace, and there is no language or perplexity rule.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import functions as F

# Java regex \s+ spelled as its explicit ASCII class so the DuckDB
# oracles can use the IDENTICAL pattern (RE2's \s omits \x0B)
ASCII_WS = "[ \\t\\n\\x0B\\f\\r]+"


def _staged_rules(df, carry_cols=()):
    """Stage the token split of `text` once per row; returns the staged
    frame (carry_cols..., text, _wc, _tok_chars, _hashes) and the PASS
    condition of every rule over it, so heuristic_keep and
    rule_ablation share expressions and thresholds and cannot drift."""
    c = F.col("text")
    staged = df.select(
        *carry_cols, c, F.split(F.trim(c), ASCII_WS).alias("_toks")
    ).select(
        *carry_cols,
        c,
        F.size("_toks").alias("_wc"),
        F.aggregate("_toks", F.lit(0), lambda a, t: a + F.length(t))
        .cast("double")
        .alias("_tok_chars"),
        (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).alias(
            "_hashes"
        ),
    )
    wc = F.col("_wc")
    mean_len = F.col("_tok_chars") / wc
    passes = {
        "word_count": (wc >= 3) & (wc <= 256),
        "mean_word_len": (mean_len >= 2.0) & (mean_len <= 14.0),
        "lorem_ipsum": ~F.contains(F.lower(c), F.lit("lorem ipsum")),
        "brace": ~F.contains(c, F.lit("{")),
        "hash_ratio": F.col("_hashes").cast("double") / wc <= 0.1,
    }
    return staged, passes


def heuristic_keep(df, carry_cols):
    """SQL-expressible C4/Gopher rule subset over `text` as a reusable
    stage: returns (carry_cols..., keep boolean). Shared by the standalone
    quality_filter_heuristic query and the curation_pipeline
    composite so the thresholds cannot drift between them (their DuckDB
    oracles render the same rules)."""
    staged, passes = _staged_rules(df, carry_cols)
    keep = functools.reduce(operator.and_, passes.values())
    return staged.select(*carry_cols, keep.alias("keep"))


def rule_ablation(df):
    """Per-rule loss accounting over the heuristic_keep rule set: for
    every rule, how many docs FAIL it (n_fail) and how many are dropped
    by it ALONE (n_unique_fail — the docs that rule uniquely costs the
    corpus; the number ablation studies argue about). ONE pass: five
    boolean columns → one partial-aggregated global row → a 5-row
    stack; no UDF, one tiny final exchange."""
    staged, passes = _staged_rules(df)
    flagged = staged.select(
        *[(~v).alias(f"_f_{k}") for k, v in passes.items()]
    )
    n_fails = [F.col(f"_f_{k}").cast("int") for k in passes]
    total_fails = sum(n_fails[1:], n_fails[0])
    aggs = []
    for k in passes:
        f = F.col(f"_f_{k}").cast("int")
        aggs.append(F.sum(f).alias(f"nf_{k}"))
        aggs.append(
            F.sum(
                ((f == 1) & (total_fails == 1)).cast("int")
            ).alias(f"uf_{k}")
        )
    wide = flagged.agg(*aggs)
    stack_args = ", ".join(
        f"'{k}', nf_{k}, uf_{k}" for k in passes
    )
    return wide.select(
        F.expr(
            f"stack({len(passes)}, {stack_args}) "
            "AS (rule, n_fail, n_unique_fail)"
        )
    )
