"""URL keep/drop rules — web-corpus stage-1 filtering.

CCNet and RefinedWeb (Penedo et al. 2023 §3.1.1) filter by URL BEFORE
any content processing: a blocklisted or fraud-worded URL is dropped
without ever decoding its page, and curated domains (wikipedia etc.)
are excluded to avoid duplicating dedicated curated corpora. The
reference pipeline has no counterpart (single-record scrubber); this is
a north-rule training-pipeline addition and the natural companion of
`url_dedup` (which already derives the normalized key this stage rules
on).

Three rules, applied in priority order and reported as a `reason`:

  * ``blocklist`` — the REGISTERED domain (last two labels of the host,
    so subdomains inherit the verdict) appears in the deny set;
  * ``curated``   — the exact host appears in the curated-corpus set;
  * ``word_score``— the weighted sum of flagged substrings found in the
    normalized URL reaches the threshold (RefinedWeb's soft word rule).
    Weights are INTEGER centi-points so the score is exact arithmetic —
    no float summation order to disagree with the oracle about.

Every rule is pure Catalyst (regexp_extract / contains / CASE): one
whole-stage-codegen projection, zero shuffles, and the DuckDB oracle is
the identical expression chain. Scale shape (10^12 rows): a
production 4.6M-domain blocklist would replace the literal `isin` with
a broadcast LEFT join on the registered domain (still zero extra
shuffles; the blocklist is ~100 MB broadcast-side).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .url_dedup import normalize_url, normalize_url_sql

# Deny set at registered-domain granularity. Original demo entries (a
# production run swaps in its curation blocklist via the DataFrame path).
DEFAULT_BLOCKLIST: tuple = (
    "spam-casino.biz",
    "free-lottery.win",
    "miracle-pills.net",
)

# Hosts excluded because a dedicated curated corpus already covers them
# (RefinedWeb excludes wikipedia from its web crawl for this reason).
DEFAULT_CURATED: tuple = (
    "en.wikipedia.org",
    "arxiv.org",
)

# substring -> integer centi-weight; drop when the sum reaches
# DEFAULT_THRESHOLD. Values follow RefinedWeb's soft-word idea, not its
# (unpublished) exact list.
DEFAULT_SOFT_WORDS: Mapping[str, int] = {
    "casino": 60,
    "lottery": 50,
    "viagra": 100,
    "escort": 60,
    "webcam": 40,
    "adult": 40,
    "pills": 50,
    "xxx": 100,
}
DEFAULT_THRESHOLD = 90

_HOST_RE = r"^([^/?#]+)"
_PORT_RE = r":\d+$"
_DOMAIN_RE = r"([^.]+\.[^.]+)$"


def _host(norm: Column) -> Column:
    return F.regexp_replace(F.regexp_extract(norm, _HOST_RE, 1), _PORT_RE, "")


def url_filter(df: DataFrame) -> DataFrame:
    """(doc_id, url, host, domain, reason, keep): keep=true iff no rule
    fires; reason names the first firing rule else NULL."""
    norm = normalize_url(F.col("url"))
    host = _host(norm)
    out = df.select(
        F.col("doc_id"),
        F.col("url"),
        host.alias("host"),
        F.regexp_extract(host, _DOMAIN_RE, 1).alias("domain"),
        norm.alias("_norm"),
    )
    blocked = F.col("domain").isin(*DEFAULT_BLOCKLIST)
    score = None
    for word, weight in sorted(DEFAULT_SOFT_WORDS.items()):
        term = F.when(F.col("_norm").contains(word), F.lit(weight)).otherwise(
            F.lit(0)
        )
        score = term if score is None else (score + term)
    reason = (
        F.when(blocked, F.lit("blocklist"))
        .when(F.col("host").isin(*DEFAULT_CURATED), F.lit("curated"))
        .when(score >= F.lit(DEFAULT_THRESHOLD), F.lit("word_score"))
    )
    return out.select(
        "doc_id",
        "url",
        "host",
        "domain",
        reason.alias("reason"),
        reason.isNull().alias("keep"),
    )


def url_filter_sql() -> dict:
    """The same rule chain as DuckDB SQL fragments (oracle parity):
    returns {'host': ..., 'domain': ..., 'reason': ...} expressions over
    the `url` column."""
    norm = normalize_url_sql()
    host = (
        f"regexp_replace(regexp_extract({norm}, '{_HOST_RE}', 1), "
        f"'{_PORT_RE}', '')"
    )
    domain = f"regexp_extract({host}, '{_DOMAIN_RE}', 1)"
    deny = ", ".join(f"'{d}'" for d in DEFAULT_BLOCKLIST)
    cur = ", ".join(f"'{h}'" for h in DEFAULT_CURATED)
    score = " + ".join(
        f"(CASE WHEN contains({norm}, '{w}') THEN {wt} ELSE 0 END)"
        for w, wt in sorted(DEFAULT_SOFT_WORDS.items())
    )
    reason = (
        f"CASE WHEN {domain} IN ({deny}) THEN 'blocklist' "
        f"WHEN {host} IN ({cur}) THEN 'curated' "
        f"WHEN ({score}) >= {DEFAULT_THRESHOLD} THEN 'word_score' END"
    )
    return {"host": host, "domain": domain, "reason": reason}
