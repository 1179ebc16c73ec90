"""transformWithStateInPandas surface (Spark 4 arbitrary stateful API).

running_user_totals keeps one ValueState per user and emits the updated
cumulative (n_events, total_value) whenever a micro-batch contains that
user — the incremental-metrics shape (e.g. per-source scrub counters
maintained across a streaming ingest). Requires the RocksDB state-store
provider (transformWithState's backing store); the caller's session must
set spark.sql.streaming.stateStore.providerClass accordingly — see
tests/test_streaming.py for the exact conf.

The transformWithState state protocol speaks protobuf, so the
end-to-end test skips itself where `google.protobuf` is not installed
and runs wherever it is. The hot-path stateful operators
(streaming/dedup.py, streaming/sessions.py) use applyInPandasWithState,
which has no such dependency and is fully tested.

This is the successor API to applyInPandasWithState (streaming/dedup.py,
streaming/sessions.py keep that surface too): typed named states, timers,
and initial-state support instead of a single tuple blob.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

OUT_SCHEMA = "user_id long, n_events long, total_value double"


class RunningTotalsProcessor(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState(
            "totals", "n_events long, total_value double"
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        n, v = 0, 0.0
        if self._totals.exists():
            n, v = self._totals.get()
        for pdf in rows:
            n += len(pdf)
            v += float(pdf["value"].sum())
        self._totals.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [v]}
        )

    def close(self) -> None:
        pass


def running_user_totals(df: DataFrame) -> DataFrame:
    """Per-user cumulative totals, one output row per (user, batch)."""
    return (
        df.groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotalsProcessor(),
            outputStructType=OUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )
