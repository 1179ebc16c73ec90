"""One benchmark run: set-up, timed passes, checks and, traced, the layers.

See run.py for the command line and README.md for the metrics.
"""

from __future__ import annotations

import contextlib
import importlib.metadata
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from perfbench import eventlog, inputs, layers
from perfbench.checks import (
    SAMPLE_FIELDS,
    batches,
    expected_row,
    failed_batches,
    sample_ids,
)
from perfbench.procs import PeakRss, cpu_probe_ms, cpu_ticks, stop_spark
from pii_filter_spark.pipeline import run_pipeline, transform, with_part_id
from pii_filter_spark.session import get_spark
from pii_filter_spark.sources import table_io

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".perfbench")
NUM_PARTS, BATCH_PARTS = 256, 32  # jobs/run_scrub_job.py defaults
SAMPLE_ROWS = 64
SCALING_REPEATS = 2  # each costs ~8 s on 4 vCPUs; a traced run must stay under 3 min
PROBE_REPEATS = 3


class Tracer:
    """Spans kept in memory; every Spark job started inside a span is
    tagged with the innermost span's name (the event log's phase)."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []  # (span id, name)
        self._next_id = 0
        self.spark = None

    def _tag(self) -> None:
        if self.spark is not None:
            name = self._stack[-1][1] if self._stack else None
            self.spark.sparkContext.setLocalProperty(eventlog.PHASE_PROP, name)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1][0] if self._stack else None
        self._stack.append((sid, name))
        self._tag()
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append({"id": sid, "name": name, "parent": parent,
                               "start": t0, "end": time.time()})
            self._stack.pop()
            self._tag()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def start_session(cpus: int, tmp: str, event_dir: str | None):
    # -Xms = the -Xmx that SPARK_DRIVER_MEM sets: with the heap committed up
    # front, the JVM's RSS no longer depends on how far G1 chose to grow the
    # heap in this run, which moved peak_rss_mb by ±15% between runs.
    heap = os.environ["SPARK_DRIVER_MEM"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark, input_path: str) -> None:
    """A small transform pass over rows from every split, so every task
    slot has a Python worker with the core modules imported."""
    df = table_io.read_table(spark, input_path)
    _noop(transform(df.where(F.xxhash64("image_id") % 64 == 0)))


def run_pass(spark, input_path: str, out: str):
    t0 = time.perf_counter()
    try:
        run_pipeline(spark, input_path, out, num_parts=NUM_PARTS, batch_parts=BATCH_PARTS)
        err = None
    except Exception:  # noqa: BLE001 - a failed pass is a measured outcome
        err = traceback.format_exc()
    return time.perf_counter() - t0, err


def scaling_eff(spark, input_path: str, cpus: int) -> float:
    """(T at N/4 task slots ÷ T at N) ÷ 4 for transform into noop.

    The N/4 level coalesces the input to N/4 partitions in the local[N]
    session: a single-stage job then occupies N/4 task slots, as it would
    at local[N/4], without a second JVM.
    """
    low = max(1, cpus // 4)
    times = {low: [], cpus: []}
    for _ in range(SCALING_REPEATS):
        for level in times:
            df = spark.read.parquet(input_path).coalesce(level)
            times[level].append(_timed(lambda: _noop(transform(df))))
    t_low, t_high = (statistics.median(times[k]) for k in (low, cpus))
    return (t_low / t_high) / (cpus / low)


def _read_output(out: str, sample: set) -> tuple[dict, dict]:
    """Per-part counts and the sampled rows, read back with pyarrow
    (independent of Spark and of operators.metrics)."""
    t = pq.read_table(out, columns=["image_id", "part_id", *SAMPLE_FIELDS])
    counts: dict = {}
    rows: dict = {}
    for r in t.to_pylist():
        c = counts.setdefault(r["part_id"], {
            "rows_in": 0, "rows_kept": 0, "rows_dropped": 0, "scrub_count": 0,
            "drop_reason_counts": {}})
        c["rows_in"] += 1
        c["rows_kept" if r["keep"] else "rows_dropped"] += 1
        c["scrub_count"] += len(r["pii_masked"])
        for reason in r["drop_reasons"]:
            c["drop_reason_counts"][reason] = c["drop_reason_counts"].get(reason, 0) + 1
        if r["image_id"] in sample:
            rows[r["image_id"]] = {k: r[k] for k in SAMPLE_FIELDS}
    return counts, rows


def sample_expectations(spark, input_path: str, rows: int):
    """(image_id -> part_id, image_id -> expected row) for the fixed sample."""
    ids = sample_ids(rows, SAMPLE_ROWS)
    parts = {r.image_id: r.part_id for r in with_part_id(
        table_io.read_table(spark, input_path), NUM_PARTS)
        .where(F.col("image_id").isin(ids)).select("image_id", "part_id").collect()}
    table = pq.read_table(input_path, columns=["image_id", "caption"]).to_pydict()
    wanted = set(ids)
    expected = {i: expected_row(c) for i, c in zip(table["image_id"], table["caption"])
                if i in wanted}
    return parts, expected


def check_pass(spark, input_path: str, out: str, rows: int, parts: dict,
               expected: dict) -> list:
    """Indices of the failed batches of the pass that wrote `out`."""
    batch_list = batches(NUM_PARTS, BATCH_PARTS)
    try:
        reprocessed = run_pipeline(spark, input_path, out, num_parts=NUM_PARTS,
                                   batch_parts=BATCH_PARTS)
        counts, sample_out = _read_output(out, set(parts))
        return failed_batches(batch_list, table_io.read_manifest(out), counts,
                              parts, sample_out, expected, rows, reprocessed)
    except Exception:  # noqa: BLE001 - an unreadable output fails the pass
        traceback.print_exc()
        return list(range(len(batch_list)))


def fused_probes(spark, input_path: str) -> dict:
    """Medians of: scan into noop, scan + identity Arrow UDF, fused stage."""
    @pandas_udf("string")
    def identity(s: pd.Series) -> pd.Series:
        return s

    def df():
        return table_io.read_table(spark, input_path)

    jobs = {
        "scan": lambda: _noop(df()),
        "arrow": lambda: _noop(df().withColumn("caption", identity(F.col("caption")))),
        "stage": lambda: _noop(transform(df())),
    }
    t = {k: statistics.median(_timed(fn) for _ in range(PROBE_REPEATS))
         for k, fn in jobs.items()}
    return {"fused.scan_s": t["scan"], "fused.arrow_s": t["arrow"] - t["scan"],
            "fused.stage_s": t["stage"]}


def manifest_ms(tmp: str) -> float:
    """Median ms to write a manifest entry for every part."""
    payload = {"snapshot_id": "snap-0", "rows_in": 64, "rows_kept": 48,
               "rows_dropped": 16, "scrub_count": 80,
               "drop_reason_counts": {"lang": 10, "too_short": 6}, "wall_ms": 1000}
    runs = []
    for i in range(PROBE_REPEATS):
        table = os.path.join(tmp, f"manifest{i}")
        t0 = time.perf_counter()
        for p in range(NUM_PARTS):
            table_io.write_manifest_entry(table, p, payload)
        runs.append((time.perf_counter() - t0) * 1000)
    return statistics.median(runs)


def layer_metrics(ev: dict, rows: int, in_bytes: int) -> dict:
    """Per-layer metrics of the timed pass from its event-log counters."""
    c = ev.get("pass", {})
    g = lambda k: c.get(k, 0.0)  # noqa: E731
    return {
        "fused.py_start_ms": g("py_start_ms"),
        "fused.py_init_ms": g("py_init_ms"),
        "fused.py_run_ms": g("py_run_ms"),
        "fused.bytes_to_py": g("bytes_to_py"),
        "fused.bytes_from_py": g("bytes_from_py"),
        "pipeline.rows_scanned_per_row": g("records_read") / rows,
        "pipeline.batch_s": g("sql_write_ms") / 1000,
        "pipeline.write_s": (g("task_commit_ms") + g("job_commit_ms")) / 1000,
        "pipeline.files_written": g("files_written"),
        "pipeline.bytes_written_per_input_byte": g("bytes_written") / in_bytes,
        "metrics.readback_s": g("sql_other_ms") / 1000,
        "spark.tasks": g("tasks"),
        "spark.run_s": g("run_ms") / 1000,
        "spark.cpu_s": g("cpu_ns") / 1e9,
        "spark.gc_s": g("gc_ms") / 1000,
        "spark.shuffle_bytes": g("shuffle_write_bytes"),
        "spark.spill_bytes": g("spill_bytes"),
    }


def untraced_wall(args) -> float:
    """wall_s of an untraced run of the same workload, seed and code, made
    in a child process just before the traced session starts."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.splitlines()[-1])["metrics"]["wall_s"]["value"]


def host_facts(spark) -> dict:
    def version(pkg):
        try:
            return importlib.metadata.version(pkg)
        except importlib.metadata.PackageNotFoundError:
            return None

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": version("pyspark"),
        "duckdb": version("duckdb"),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),  # noqa: SLF001
        "python": sys.version.split()[0],
        "note": "4-vCPU re-baseline; not comparable to the 32-vCPU BENCH_r0x artifacts",
    }


def run(args, t_origin: float, run_id: str, tmp: str) -> dict:
    """One run; returns the result with bare metric values."""
    w = inputs.WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    event_dir = os.path.join(SCRATCH, "eventlog", run_id) if args.trace else None
    if event_dir:
        os.makedirs(event_dir)

    input_path, build_s = inputs.ensure_input(os.path.join(SCRATCH, "cache"), w, args.seed)
    untraced_wall_s = untraced_wall(args) if args.trace else None
    tracer = Tracer()
    rss = PeakRss()
    spark = None
    record = {"workload": w.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "rows": w.rows, "cache_build_s": build_s}
    try:
        with tracer.span("setup"):
            spark = start_session(cpus, tmp, event_dir)
            tracer.spark = spark
            rss.start()
            with tracer.span("warm"):
                warm(spark, input_path)
        setup_s = time.perf_counter() - t_origin - build_s
        record["host"] = host_facts(spark)

        record["cpu_probe_ms"] = cpu_probe_ms()
        walls, outs, errors = [], [], []
        ticks0 = cpu_ticks()
        t_phase = time.perf_counter()
        while not walls or time.perf_counter() - t_phase < args.seconds:
            out = os.path.join(tmp, f"out{len(walls)}")
            with tracer.span("pass"):
                wall, err = run_pass(spark, input_path, out)
            walls.append(wall)
            outs.append(out)
            errors.append(err)
        wall_s = statistics.median(walls)
        # the share of CPU time the hypervisor took during the timed phase:
        # a run slowed by a busy host, not by the commit, shows it here
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        record["steal_frac"] = steal / total if total else 0.0
        metrics = {}
        if not args.trace:
            metrics = {"setup_s": setup_s, "wall_s": wall_s, "images_per_s": w.rows / wall_s}

        with tracer.span("checks"):
            parts, expected = sample_expectations(spark, input_path, w.rows)
            failed = [check_pass(spark, input_path, o, w.rows, parts, expected)
                      for o in outs]
        n_batches = len(batches(NUM_PARTS, BATCH_PARTS))
        record.update(pass_walls=walls, pass_errors=errors, failed_batches=failed)

        if args.trace:
            with tracer.span("probe.scaling"):
                metrics["scaling_eff"] = scaling_eff(spark, input_path, cpus)
            with tracer.span("probe.fused"):
                metrics.update(fused_probes(spark, input_path))
            with tracer.span("probe.manifest"):
                metrics["table_io.manifest_ms"] = manifest_ms(tmp)
            with tracer.span("probe.core"):
                texts = inputs.captions(inputs.LAYER_SEED, 0, w.layer_rows,
                                        w.captions_per_row)
                metrics.update(layers.core_metrics(texts))
            with tracer.span("probe.import"):
                metrics["core.import_ms"] = layers.import_ms(ROOT)
    finally:
        peak = rss.stop() if rss.is_alive() else 0
        if spark is not None:
            stop_spark(spark)

    if args.trace:
        ev = eventlog.parse(event_dir)
        record["eventlog"] = ev
        metrics.update(layer_metrics(ev, w.rows, inputs.input_bytes(input_path)))
        record["untraced_wall_s"] = untraced_wall_s
        metrics["trace.overhead"] = wall_s / untraced_wall_s
    else:
        metrics["peak_rss_mb"] = peak / 2**20
    record.update(metrics=metrics, spans=tracer.spans)
    os.makedirs(os.path.join(SCRATCH, "runs"), exist_ok=True)
    with open(os.path.join(SCRATCH, "runs", run_id + ".json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    n_failed = sum(len(f) for f in failed)
    return {"correct": n_failed == 0, "attempted": n_batches * len(walls),
            "failed": n_failed, "metrics": metrics}
