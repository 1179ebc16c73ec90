"""HTML main-text extraction — the boilerplate-removal stage that sits
before every text rule in a web pipeline (RefinedWeb runs trafilatura,
C4 ran plain tag-stripping; Penedo et al. 2023 §3.1.2).

This is the deterministic tag-level core of that stage: script/style
subtree removal, comment removal, block-tag-to-newline conversion (so
<p>/<br>/<li> boundaries survive as line breaks for the downstream
line_clean rules), tag stripping, entity decoding, and whitespace
normalization. A real deployment can swap in trafilatura behind the
same (html)->(text) column signature; unlike the model seams this core
is not a stub — it is the exact documented transform.

Every step is a Catalyst regexp_replace/replace over one column — one
whole-stage-codegen projection, zero shuffles, zero Python — and the
step list is shared data (`_STEPS`) rendered identically into DuckDB
SQL for the oracle, the same parity pattern as operators/url_dedup.
Java regex and RE2 agree on these patterns: non-greedy `.*?` with
`(?s)`/`(?i)` inline flags is common syntax, and the ASCII character
classes mean no unicode-semantics divergence.

Scale shape (10^12 rows): a projection. Nothing shuffles; the scan's
column pruning drops the raw HTML immediately after the projection if
only the extracted text is selected downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (kind, pattern_or_literal, replacement) applied IN ORDER.
#   kind "re"  -> regexp_replace (Java replaces all; DuckDB needs 'g')
#   kind "lit" -> literal replace()
_STEPS: tuple = (
    # drop non-content subtrees first (their text must never leak)
    ("re", r"(?is)<script\b.*?</script>", " "),
    ("re", r"(?is)<style\b.*?</style>", " "),
    ("re", r"(?s)<!--.*?-->", " "),
    # block-level boundaries become newlines so line structure survives
    ("re", r"(?i)<(br|/p|/div|/li|/h[1-6]|/tr)\b[^>]*>", "\n"),
    # every remaining tag is inline noise
    ("re", r"(?s)<[^>]*>", " "),
    # the entities our synthetic corpus and common crawls actually hit
    ("lit", "&nbsp;", " "),
    ("lit", "&amp;", "&"),
    ("lit", "&lt;", "<"),
    ("lit", "&gt;", ">"),
    ("lit", "&quot;", '"'),
    ("lit", "&#39;", "'"),
    # per-line horizontal-space collapse, then blank-line collapse
    ("re", r"[ \t\r]+", " "),
    ("re", r" ?\n ?", "\n"),
    ("re", r"\n{2,}", "\n"),
    # edge strip: trim() in both engines removes only spaces, so
    # newline edges need the regex (\s covers both)
    ("re", r"^\s+", ""),
    ("re", r"\s+$", ""),
)


def strip_html(col: Column) -> Column:
    """Extracted main text of an HTML column — the `_STEPS` chain, all
    JVM-native, trimmed at the end."""
    out = col
    for kind, pat, rep in _STEPS:
        if kind == "re":
            out = F.regexp_replace(out, pat, rep)
        else:
            out = F.replace(out, F.lit(pat), F.lit(rep))
    return F.trim(out)


def strip_html_sql() -> str:
    """The SAME chain as DuckDB SQL over the `html` column (RE2 wants the
    explicit 'g' flag; literal steps map to replace())."""
    out = "html"
    for kind, pat, rep in _STEPS:
        sql_pat = pat.replace("'", "''")
        sql_rep = rep.replace("'", "''")
        if kind == "re":
            out = f"regexp_replace({out}, '{sql_pat}', '{sql_rep}', 'g')"
        else:
            out = f"replace({out}, '{sql_pat}', '{sql_rep}')"
    return f"trim({out})"


def html_extract(df: DataFrame) -> DataFrame:
    """(doc_id, text, n_lines, n_chars): main text extracted from `html`
    plus the two cheap shape facts downstream quality rules key on. One
    codegen projection."""
    text = strip_html(F.col("html"))
    return df.select(
        F.col("doc_id"),
        text.alias("text"),
        (F.size(F.split(text, "\n")) ).alias("n_lines"),
        F.length(text).alias("n_chars"),
    )
