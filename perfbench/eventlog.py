"""Spark event-log counters, grouped by the benchmark phase that caused them.

The runner tags every job with the local property `perfbench.phase`
before it calls into the program. Task metrics and the SQL metrics of
completed stages are summed per phase; SQL executions carry their wall
time and whether they were a file write. The file write's own metrics
that the driver reports (job commit time, files written) are matched to
their names through the execution's plan.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from typing import Dict, Iterator

PHASE_PROP = "perfbench.phase"

# SQL metrics of the Arrow Python-UDF node (ms for times, bytes for data)
PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}
# SQL metrics summed from completed stages: the Python-UDF node's and the
# file write's task-side commit
STAGE_METRICS = {**PY_METRICS, "task commit time": "task_commit_ms"}
# SQL metrics of the file write that the driver reports after the job
DRIVER_METRICS = {
    "job commit time": "job_commit_ms",
    "number of written files": "files_written",
}


def _events(log_dir: str) -> Iterator[dict]:
    """Events of the (rolling, uncompressed) logs under log_dir, in order."""
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def _plan_metrics(node: dict, found: Dict[int, str]) -> None:
    """accumulator id -> counter name of the plan's DRIVER_METRICS."""
    for m in node.get("metrics", []):
        key = DRIVER_METRICS.get(m["name"])
        if key:
            found[m["accumulatorId"]] = key
    for child in node.get("children", []):
        _plan_metrics(child, found)


def parse(log_dir: str) -> Dict[str, Dict[str, float]]:
    """phase -> counters: tasks, run_ms, cpu_ns, gc_ms, shuffle_write_bytes,
    shuffle_read_bytes, spill_bytes, records_read, bytes_read,
    bytes_written, sql_write_ms, sql_other_ms and the STAGE_METRICS and
    DRIVER_METRICS names."""
    stage_phase: Dict[int, str] = {}
    exec_phase: Dict[int, str] = {}
    exec_start: Dict[int, dict] = {}
    accum_key: Dict[int, str] = {}
    driver: Dict[int, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    out: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            phase = props.get(PHASE_PROP)
            if phase is None:
                continue
            for s in e["Stage IDs"]:
                stage_phase[s] = phase
            if "spark.sql.execution.id" in props:
                exec_phase[int(props["spark.sql.execution.id"])] = phase
        elif kind == "SparkListenerTaskEnd":
            phase = stage_phase.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if phase is None or not m:
                continue
            c = out[phase]
            c["tasks"] += 1
            c["run_ms"] += m["Executor Run Time"]
            c["cpu_ns"] += m["Executor CPU Time"]
            c["gc_ms"] += m["JVM GC Time"]
            c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            sr = m["Shuffle Read Metrics"]
            c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
            c["records_read"] += m["Input Metrics"]["Records Read"]
            c["bytes_read"] += m["Input Metrics"]["Bytes Read"]
            c["bytes_written"] += m["Output Metrics"]["Bytes Written"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            phase = stage_phase.get(info["Stage ID"])
            if phase is None:
                continue
            for a in info.get("Accumulables", []):
                key = STAGE_METRICS.get(a.get("Name"))
                if key:
                    out[phase][key] += float(a["Value"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], accum_key)
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                key = accum_key.get(acc_id)
                if key:
                    driver[e["executionId"]][key] += value
        elif kind.endswith("SQLExecutionStart"):
            exec_start[e["executionId"]] = e
            _plan_metrics(e.get("sparkPlanInfo", {}), accum_key)
        elif kind.endswith("SQLExecutionEnd"):
            start = exec_start.get(e["executionId"])
            phase = exec_phase.get(e["executionId"])
            if start is None or phase is None:
                continue
            if start.get("rootExecutionId", e["executionId"]) != e["executionId"]:
                continue  # nested execution: its root already covers its time
            is_write = "InsertIntoHadoopFsRelationCommand" in start["physicalPlanDescription"]
            key = "sql_write_ms" if is_write else "sql_other_ms"
            out[phase][key] += e["time"] - start["time"]
    for exec_id, counters in driver.items():
        phase = exec_phase.get(exec_id)
        if phase is not None:
            for key, value in counters.items():
                out[phase][key] += value
    return {k: dict(v) for k, v in out.items()}
