"""WARC/WET archive → record rows (web-pipeline stage 0 as a Spark
operator).

One row-mapping pass (rowmap.map_rows): each input row holds one
archive shard blob (exactly how Common Crawl ships — ~1 GB .warc.gz
shards of per-record gzip members); the stage explodes it into
(archive_id, rec_idx, warc_type, url, text) rows. Nothing shuffles; at
10^12 scale the parallelism is the shard count and each task's memory
is bounded by one shard. Downstream this feeds html_extract →
line_clean → langid → quality → dedup — the full RefinedWeb chain, every
link of which exists in this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.warc import extract_text_records
from .rowmap import map_rows

WARC_SCHEMA = (
    "archive_id string, rec_idx int, warc_type string, url string, "
    "text string"
)


def parse_warc_archives(df: DataFrame) -> DataFrame:
    """(archive_id, rec_idx, warc_type, url, text) for every text-bearing
    record of every archive blob."""

    def _parse(archive_id, data):
        for i, (wtype, uri, text) in enumerate(extract_text_records(bytes(data))):
            yield archive_id, i, wtype, uri, text

    return map_rows(df, ["archive_id", "data"], WARC_SCHEMA, _parse)
