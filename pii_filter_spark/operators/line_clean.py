"""Line-level document cleaning (RefinedWeb / C4 line rules).

Web-extracted text carries navigation and social-counter junk BETWEEN
real paragraphs — the line-wise correction pass of RefinedWeb (Penedo
et al. 2023 §3.1.3, "line-wise filters") and C4's line rules (Raffel et
al. 2020 §2.2) drop those lines and discard the document entirely when
too much of it was junk. Deterministic rule set here (documented,
frozen):

  a line is REMOVED if any of
    * social-counter line:  "^[0-9]+ (like|view|comment|share|point)s?$"
      (case-insensitive, trimmed);
    * numeric-only line: only digits/punctuation/space, at least one
      digit;
    * all-caps navigation line: >= 4 alphabetic chars, ALL uppercase;
    * dangling fragment: <= 2 words AND no terminal punctuation
      ( . ! ? " ) at the end.

  the DOCUMENT is dropped (doc_keep = false) when removed characters
  exceed MAX_REMOVED_FRAC (0.05, the RefinedWeb recipe) of
  total line characters.

Everything is a single codegen'd projection: split on newline, one
transform() with per-line keep expressions built from regexp/length
primitives, aggregate() for the char accounting, array_join for the
cleaned text. No UDF, no shuffle — at 10^12 rows this is a map-only
stage fused into the scan. The pure-Python twin below replicates every
rule for the fixture oracle.
"""

from __future__ import annotations

import re
from typing import Iterable, List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAX_REMOVED_FRAC = 0.05

_COUNTER_RE = r"^[0-9]+ (like|view|comment|share|point)s?$"
_NUMERIC_RE = r"^[0-9 .,%/:\-]*$"
_TERMINAL_RE = r'[.!?"]$'


def _line_removed(line: Column) -> Column:
    t = F.trim(line)
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    upper = F.length(F.regexp_replace(t, "[^A-Z]", ""))
    words = F.size(F.filter(F.split(t, " "), lambda w: w != ""))
    counter = F.lower(t).rlike(_COUNTER_RE)
    numeric = t.rlike(_NUMERIC_RE) & t.rlike("[0-9]")
    allcaps = (alpha >= 4) & (upper == alpha)
    fragment = (words <= 2) & ~t.rlike(_TERMINAL_RE)
    return counter | numeric | allcaps | fragment


def line_clean(df: DataFrame) -> DataFrame:
    """(doc_id, n_lines, n_removed, removed_frac, doc_keep, text_clean)
    from `text`."""
    lines = F.split(F.coalesce(F.col("text"), F.lit("")), "\n")
    tagged = F.transform(
        lines,
        lambda l: F.struct(
            l.alias("l"),
            _line_removed(l).alias("rm"),
            F.length(l).alias("n"),
        ),
    )
    # stage the per-line tagging ONCE: five output columns consume it,
    # and inlined it would be re-evaluated per consumer (measured ~4x
    # at sf0.1). CollapseProject keeps the staging projection because
    # the alias is expensive and multiply-referenced.
    staged = df.select(F.col("doc_id"), tagged.alias("_tagged"))
    tg = F.col("_tagged")
    total = F.aggregate(tg, F.lit(0.0), lambda acc, x: acc + x["n"])
    removed = F.aggregate(
        tg,
        F.lit(0.0),
        lambda acc, x: acc + F.when(x["rm"], x["n"]).otherwise(F.lit(0.0)),
    )
    frac = F.when(total > 0, removed / total).otherwise(F.lit(0.0))
    kept = F.filter(tg, lambda x: ~x["rm"])
    return staged.select(
        F.col("doc_id"),
        F.size(tg).alias("n_lines"),
        (F.size(tg) - F.size(kept)).alias("n_removed"),
        F.round(frac, 4).alias("removed_frac"),
        (frac <= F.lit(MAX_REMOVED_FRAC)).alias("doc_keep"),
        F.array_join(
            F.transform(kept, lambda x: x["l"]), "\n"
        ).alias("text_clean"),
    )


# ---------------------------------------------------------------------------
# pure-Python twin (fixture oracle)
# ---------------------------------------------------------------------------

_P_COUNTER = re.compile(_COUNTER_RE)
_P_NUMERIC = re.compile(_NUMERIC_RE)


def _line_removed_py(line: str) -> bool:
    t = line.strip(" ")
    alpha = sum(1 for c in t if c.isascii() and c.isalpha())
    upper = sum(1 for c in t if c.isascii() and c.isupper())
    words = sum(1 for w in t.split(" ") if w != "")
    if _P_COUNTER.match(t.lower()):
        return True
    if _P_NUMERIC.match(t) and any(c.isdigit() for c in t):
        return True
    if alpha >= 4 and upper == alpha:
        return True
    if words <= 2 and not (t and t[-1] in '.!?"'):
        return True
    return False


def line_clean_rows(
    rows: Iterable[Tuple[int, str]],
) -> List[Tuple[int, int, int, float, bool, str]]:
    """Twin of line_clean; returns the UNROUNDED frac (caller rounds)."""
    out = []
    for d, t in rows:
        ls = (t or "").split("\n")
        tags = [(l, _line_removed_py(l)) for l in ls]
        total = float(sum(len(l) for l in ls))
        removed = float(sum(len(l) for l, rm in tags if rm))
        frac = removed / total if total > 0 else 0.0
        kept = [l for l, rm in tags if not rm]
        out.append(
            (
                d,
                len(ls),
                len(ls) - len(kept),
                frac,
                frac <= MAX_REMOVED_FRAC,
                "\n".join(kept),
            )
        )
    return out
