"""CCNet text normalization — the stage BEFORE dedup hashing.

Wenzek et al. 2020 ("CCNet", §4.1) deduplicate on a NORMALIZED copy of
each paragraph, not the raw text: lowercase, strip accents, replace
every digit with zero, normalize unicode punctuation, drop non-printing
characters. Raw text is what ships; the normalized form only feeds the
hash, so trivially-different boilerplate ("Page 3 of 12" vs "Page 4 of
12", curly vs straight quotes) collides into one dedup key.

This operator is that normalization as ONE codegen projection — a fixed
chain of `lower` → `translate` (frozen accent + punctuation tables
below) → `regexp_replace` (ellipsis, digits, zero-width/control chars,
whitespace collapse). No UDF, no shuffle: at 10^12 rows it fuses into
the scan, and `norm_digest` drops straight into the existing
`dedup.dedup_exact` / `fingerprints` machinery as the dedup key.

The tables are deliberately frozen literals (not `unicodedata.NFD` at
runtime) so the Spark plan, the pure-Python twin used by the fixture
oracle, and any future engine agree byte-for-byte. Coverage is the
Latin-1 Supplement + Latin Extended-A range the synthetic PT/EN/ES/DE/
FR corpus exercises; CCNet's production table is larger but the seam —
swap the literal tables — is the same.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .quality_stage import ASCII_WS

# -- frozen 1:1 character tables ------------------------------------------
# accent -> base letter (input is lowercased first, so lowercase only)
_ACCENT_PAIRS = [
    ("àáâãäåāăą", "a"),
    ("çćč", "c"),
    ("ď", "d"),
    ("èéêëēĕėęě", "e"),
    ("ìíîïĩīĭįı", "i"),
    ("ñńň", "n"),
    ("òóôõöøōŏő", "o"),
    ("ŕř", "r"),
    ("šśş", "s"),
    ("ťţ", "t"),
    ("ùúûüũūŭůű", "u"),
    ("ýÿ", "y"),
    ("žźż", "z"),
]
# unicode punctuation / spaces -> ASCII equivalent
_PUNCT_PAIRS = [
    ("“”„«»", '"'),   # “ ” „ « »
    ("‘’‚´`", "'"),        # ‘ ’ ‚ ´ `
    ("–—―−", "-"),          # – — ― −
    ("     　", " "),  # unicode spaces
]

ACCENT_SRC = "".join(s for s, _ in _ACCENT_PAIRS)
ACCENT_DST = "".join(d * len(s) for s, d in _ACCENT_PAIRS)
PUNCT_SRC = "".join(s for s, _ in _PUNCT_PAIRS)
PUNCT_DST = "".join(d * len(s) for s, d in _PUNCT_PAIRS)

# shared regex fragments — identical semantics in Java regex and Python
# `re` (explicit char classes; never bare \s, whose meaning differs).
_ELLIPSIS = "…"
_DROP_RE = "[\\x00-\\x08\\x0E-\\x1F\\x7F​‌‍﻿]"


def normalize_expr(col: Column) -> Column:
    """The whole normalization as one native expression chain."""
    s = F.lower(F.coalesce(col, F.lit("")))
    s = F.translate(s, ACCENT_SRC, ACCENT_DST)
    s = F.regexp_replace(s, _ELLIPSIS, "...")
    s = F.translate(s, PUNCT_SRC, PUNCT_DST)
    s = F.regexp_replace(s, "[0-9]", "0")
    s = F.regexp_replace(s, _DROP_RE, "")
    return F.trim(F.regexp_replace(s, ASCII_WS, " "))


def normalize_text(text) -> str:
    """Pure twin of `normalize_expr`, same op order and tables."""
    s = (text or "").lower()
    s = s.translate(str.maketrans(ACCENT_SRC, ACCENT_DST))
    s = s.replace(_ELLIPSIS, "...")
    s = s.translate(str.maketrans(PUNCT_SRC, PUNCT_DST))
    s = re.sub("[0-9]", "0", s)
    s = re.sub(_DROP_RE, "", s)
    return re.sub(ASCII_WS, " ", s).strip(" ")


def ccnet_normalize(df: DataFrame) -> DataFrame:
    """(doc_id, norm_text, norm_digest): dedup key of `text` per CCNet
    §4.1."""
    norm = normalize_expr(F.col("text"))
    return df.select(
        F.col("doc_id"),
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_digest"),
    )


def normalize_digest(text) -> str:
    """Twin digest (lowercase hex md5, matching Spark `F.md5`)."""
    return hashlib.md5(normalize_text(text).encode("utf-8")).hexdigest()
