"""Output checks for one `run_pipeline` pass, as pure functions.

An operation is one partition batch. A batch fails when a manifest entry
of one of its parts is missing or disagrees with an independent read-back
of the written rows, or when a sampled row of one of its parts differs
from an in-process recomputation through the core functions. A pass-wide
failure (rows_in differs from the input row count, or an immediate second
run reprocesses partitions) fails every batch of the pass.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Mapping, Sequence

from pii_filter_spark.core.detect import scrub_text
from pii_filter_spark.core.langid import detect_language
from pii_filter_spark.core.perplexity import perplexity
from pii_filter_spark.core.quality import drop_reasons

MANIFEST_FIELDS = ("rows_in", "rows_kept", "rows_dropped", "scrub_count",
                   "drop_reason_counts")
EMPTY_PART = {"rows_in": 0, "rows_kept": 0, "rows_dropped": 0,
              "scrub_count": 0, "drop_reason_counts": {}}
SAMPLE_FIELDS = ("lang", "ppl", "drop_reasons", "keep", "scrubbed_caption",
                 "pii_masked")


def batches(num_parts: int, batch_parts: int) -> List[List[int]]:
    """The batches a run over a fresh output commits, in order."""
    parts = list(range(num_parts))
    return [parts[i:i + batch_parts] for i in range(0, num_parts, batch_parts)]


def expected_row(caption) -> Dict:
    """What the fused stage must produce for one caption."""
    if isinstance(caption, str):
        lang, ppl = detect_language(caption), perplexity(caption)
        scrubbed, mappings = scrub_text(caption)
    else:
        lang, ppl = "und", 0.0
        scrubbed, mappings = ("" if caption is None else str(caption)), []
    reasons = drop_reasons(caption if isinstance(caption, str) else None, lang, ppl)
    return {"lang": lang, "ppl": ppl, "drop_reasons": reasons,
            "keep": not reasons, "scrubbed_caption": scrubbed,
            "pii_masked": mappings}


def sample_ids(rows: int, k: int) -> List[str]:
    """A fixed spread of k image ids over a table of `rows` rows."""
    return [f"img_{i:08d}" for i in range(0, rows, max(1, rows // k))][:k]


def failed_batches(
    batch_list: Sequence[Sequence[int]],
    manifest: Iterable[Mapping],
    readback: Mapping[int, Mapping],
    sample_part: Mapping[str, int],
    sample_out: Mapping[str, Mapping],
    expected: Mapping[str, Mapping],
    input_rows: int,
    reprocessed: Sequence[int],
) -> List[int]:
    """Indices into batch_list of the batches that fail their checks.

    manifest: entries as `table_io.read_manifest` returns them.
    readback: part_id -> counts recomputed from the written rows.
    sample_part: sampled image_id -> its part_id (from the input).
    sample_out: sampled image_id -> its written row (absent if missing).
    expected: sampled image_id -> `expected_row` of its caption.
    """
    entries = {int(e["part_id"]): e for e in manifest}
    if (sum(int(e["rows_in"]) for e in entries.values()) != input_rows
            or len(reprocessed) != 0):
        return list(range(len(batch_list)))
    bad_parts = set()
    for p in {p for b in batch_list for p in b}:
        e = entries.get(p)
        got = readback.get(p, EMPTY_PART)
        if e is None or any(e[f] != got[f] for f in MANIFEST_FIELDS):
            bad_parts.add(p)
    for image_id, p in sample_part.items():
        row = sample_out.get(image_id)
        want = expected[image_id]
        if row is None or any(row[f] != want[f] for f in SAMPLE_FIELDS):
            bad_parts.add(p)
    return [i for i, b in enumerate(batch_list) if bad_parts.intersection(b)]
