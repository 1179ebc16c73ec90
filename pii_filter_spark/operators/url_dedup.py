"""URL-key dedup — the cheapest web-corpus dedup stage.

Web-scale curation runs URL dedup BEFORE any content dedup (CCNet,
Wenzek et al. 2020 §3.1; RefinedWeb, Penedo et al. 2023 §3.2): two
crawls of the same page share a URL long before they share shingles,
and a normalized-URL groupBy costs one shuffle of a short string key vs
MinHash's signature computation over the full text. The reference
pipeline has no counterpart (single-record scrubber); this is a
north-rule training-pipeline addition.

Normalization is the standard heuristic canonicalization: lowercase,
scheme/`www.` strip, fragment strip, tracking-parameter removal
(`utm_*`, `fbclid`, `gclid`, `ref`), dangling-separator tidy, trailing
slash strip. Every step is a Catalyst `regexp_replace` — whole-stage
codegen, no UDF, and the oracle is the IDENTICAL expression chain in
plain DuckDB SQL (RE2 and java.util.regex agree on these anchored
ASCII patterns).

Scale shape (10^12 rows): one projection + one hash-partitioned window
keyed by the normalized URL. Groups are tiny (a handful of crawl dups
per page), so there is no skew concern and no need for salting; the
survivor rule (min doc id) is deterministic and cluster-invariant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# (pattern, replacement) chain; applied in order. Kept as data so the
# DuckDB oracle renders the same chain (tools/oracle parity).
_NORM_STEPS: tuple = (
    (r"^https?://", ""),
    (r"^www\.", ""),
    (r"#.*$", ""),
    (r"(utm_[a-z]+|fbclid|gclid|ref)=[^&]*&?", ""),
    (r"[?&]$", ""),
    (r"/$", ""),
)


def normalize_url(col: Column) -> Column:
    """Canonical form of a URL column — lowercase + the `_NORM_STEPS`
    regexp_replace chain, all JVM-native."""
    out = F.lower(col)
    for pat, rep in _NORM_STEPS:
        out = F.regexp_replace(out, pat, rep)
    return out


def normalize_url_sql() -> str:
    """The SAME chain as DuckDB SQL over the `url` column (RE2 needs the
    explicit 'g' flag where Java replaces all matches by default)."""
    out = "lower(url)"
    for pat, rep in _NORM_STEPS:
        # standard SQL strings don't process backslashes — quote-escape only
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{rep}', 'g')"
    return out


def url_dedup(df: DataFrame) -> DataFrame:
    """(doc_id, url, url_norm, keep): keep marks the minimum-id row per
    normalized URL. One window shuffle; groups are crawl-dup sized."""
    out = df.withColumn("url_norm", normalize_url(F.col("url")))
    w = Window.partitionBy("url_norm").orderBy("doc_id")
    return out.select(
        F.col("doc_id"),
        F.col("url"),
        "url_norm",
        (F.row_number().over(w) == 1).alias("keep"),
    )
