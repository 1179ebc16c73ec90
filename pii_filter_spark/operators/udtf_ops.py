"""Python UDTF surface (PySpark 4): one-row → many-row table functions.

SentenceSplit is the representative: a document row fans out to one row
per sentence with its ordinal — the shape a chunking stage feeding an
embedding model needs. The regex is RE2-compatible (no lookarounds) so
the DuckDB oracle runs the IDENTICAL pattern; the sentence ordinal is
the raw match index (empty/whitespace matches are filtered, not
renumbered) for the same reason.

UDTFs are row-at-a-time Python — the slow path relative to this repo's
Arrow-batched pandas UDFs. They earn their place as API surface (SQL
`LATERAL` integration, arbitrary fan-out with typed schemas); the hot
fan-out paths (video frames, LSH bands) stay on mapInPandas/explode.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.functions import udtf

SENTENCE_RE = r"[^.!?]+[.!?]*"
_SENTENCE_RE_C = re.compile(SENTENCE_RE)


@udtf(returnType="doc_id bigint, sent_idx int, sentence string")
class SentenceSplit:
    """LATERAL sentence_split(doc_id, text) → (doc_id, sent_idx, sentence)."""

    def eval(self, doc_id: int, text: str):  # noqa: D102
        if not text:
            return
        for i, m in enumerate(_SENTENCE_RE_C.findall(text)):
            s = m.strip()
            if s:
                yield doc_id, i, s


def split_sentences(df: DataFrame) -> DataFrame:
    """Apply the UDTF via SQL LATERAL over the (doc_id, caption) rows of
    an arbitrary input frame."""
    spark = df.sparkSession
    spark.udtf.register("sentence_split", SentenceSplit)
    df.createOrReplaceTempView("_udtf_in_doc_id__caption")
    return spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.sentence "
        "FROM _udtf_in_doc_id__caption, LATERAL sentence_split(doc_id, caption) s"
    )
