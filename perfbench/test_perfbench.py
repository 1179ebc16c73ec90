"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog, inputs  # noqa: E402
from perfbench.checks import (  # noqa: E402
    EMPTY_PART,
    batches,
    expected_row,
    failed_batches,
)

CAPTION = "Retrato de Ana Silva, CPF 529.982.247-25, email ana.silva@exemplo.com."
PART = 40  # in batch 1 of 8


def _clean_pass():
    """A pass whose manifest, read-back and sample all agree."""
    batch_list = batches(256, 32)
    readback = {p: dict(EMPTY_PART, rows_in=1, rows_kept=1) for p in range(256)}
    manifest = [{"part_id": p, **readback[p]} for p in range(256)]
    want = expected_row(CAPTION)
    return dict(batch_list=batch_list, manifest=manifest, readback=readback,
                sample_part={"img_1": PART}, sample_out={"img_1": dict(want)},
                expected={"img_1": want}, input_rows=256, reprocessed=[])


def test_batches_follow_the_job_order():
    b = batches(256, 32)
    assert len(b) == 8 and b[0] == list(range(32)) and b[-1][-1] == 255


def test_expected_row_scrubs_and_keeps():
    row = expected_row(CAPTION)
    assert "529.982.247-25" not in row["scrubbed_caption"]
    assert row["keep"] == (row["drop_reasons"] == [])
    assert {m["type"] for m in row["pii_masked"]} >= {"CPF", "EMAIL"}


def test_clean_pass_has_no_failed_batch():
    assert failed_batches(**_clean_pass()) == []


def test_corrupted_sample_row_fails_its_batch():
    kw = _clean_pass()
    kw["sample_out"]["img_1"]["scrubbed_caption"] = CAPTION  # PII left in
    assert failed_batches(**kw) == [1]


def test_missing_sample_row_fails_its_batch():
    kw = _clean_pass()
    kw["sample_out"] = {}
    assert failed_batches(**kw) == [1]


def test_manifest_disagreeing_with_readback_fails_its_batch():
    kw = _clean_pass()
    kw["readback"][200] = dict(kw["readback"][200], drop_reason_counts={"lang": 1})
    assert failed_batches(**kw) == [6]


def test_missing_manifest_entry_fails_its_batch():
    kw = _clean_pass()
    kw["manifest"] = [e for e in kw["manifest"] if e["part_id"] != 3]
    kw["input_rows"] = 255
    assert failed_batches(**kw) == [0]


def test_pass_wide_failures_fail_every_batch():
    kw = _clean_pass()
    kw["input_rows"] = 257
    assert failed_batches(**kw) == list(range(8))
    kw = _clean_pass()
    kw["reprocessed"] = [7]
    assert failed_batches(**kw) == list(range(8))


def test_inputs_are_a_function_of_the_seed():
    t = inputs.build_rows(5, 8, 16, 2)
    assert t.equals(inputs.build_rows(5, 8, 16, 2))
    assert not t.equals(inputs.build_rows(6, 8, 16, 2))
    assert t.column("caption").to_pylist() == inputs.captions(5, 8, 16, 2)
    assert t.column("image_id").to_pylist() == [f"img_{i:08d}" for i in range(8, 24)]
    assert len(set(t.column("bytes").to_pylist())) == 16  # an image of its own per row


def test_eventlog_groups_counters_by_phase(tmp_path):
    task = {
        "Executor Run Time": 100, "Executor CPU Time": 5e7, "JVM GC Time": 3,
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 11},
        "Input Metrics": {"Records Read": 64, "Bytes Read": 900},
        "Output Metrics": {"Bytes Written": 300, "Records Written": 64},
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "rootExecutionId": 0, "time": 1000,
         "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand",
         "sparkPlanInfo": {"metrics": [
             {"name": "number of written files", "accumulatorId": 8},
             {"name": "job commit time", "accumulatorId": 9}], "children": [
             {"metrics": [{"name": "scan time", "accumulatorId": 10}], "children": []}]}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"perfbench.phase": "pass", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1],
         "Properties": {"perfbench.phase": "warm"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
            {"Name": "time to run Python workers", "Value": "250"},
            {"Name": "task commit time", "Value": "12"},
            {"Name": "number of output rows", "Value": "64"}]}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[8, 32], [9, 40], [10, 5]]},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
         "executionId": 0, "time": 1750},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events))
    ev = eventlog.parse(str(tmp_path))
    p = ev["pass"]
    assert p["tasks"] == 2 and p["records_read"] == 128 and p["spill_bytes"] == 14
    assert p["py_run_ms"] == 250 and p["sql_write_ms"] == 750
    assert p["task_commit_ms"] == 12 and p["job_commit_ms"] == 40 and p["files_written"] == 32
    assert ev["warm"]["tasks"] == 1 and "py_run_ms" not in ev["warm"]
