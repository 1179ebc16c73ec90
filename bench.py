#!/usr/bin/env python
"""Benchmark harness for the PySpark engine.

Default mode (what the per-round driver runs):
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 python bench.py
Times every headline query from __spark_entry__.queries() at the given sf
dir on local[CPUS], plus the flagship image+caption pipeline throughput
(deterministic synthetic input-table, the BASELINE.json input_hint shape),
and prints ONE JSON line:
    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "images_per_sec": ...}

Scaling mode (north-rule evidence — no real cluster here, so the same
job runs at two parallelism levels on identical input):
    python bench.py --scaling
Runs the flagship pipeline at local[N] and local[4N], N = nproc // 4
(1 and 4 on a 4-vCPU host), in separate subprocesses (cold JVM each) and
prints throughput at both plus efficiency = (T_N / T_4N) / 4. Results are
recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
SCRATCH = os.path.join(REPO, ".bench_scratch")
# Large enough that UDF compute dominates fixed scheduling/Arrow overhead —
# required for the scaling-efficiency measurement to mean anything. Each
# Python-UDF task pays a fixed worker start-up cost: ~5-30 ms, or ~200 ms
# when the worker keeps the zip importers that importlib.invalidate_caches()
# re-reads at every task start (pii_filter_spark/__init__.py drops them);
# the scaling run sizes splits to ~2 waves of multi-second tasks per
# level — the same shape a real 128 MB-split cluster scan has.
PIPE_N = int(os.environ.get("SPARK_GRAFT_PIPE_N", "320000"))
PIPE_SEED = 42
WAVES = 2  # task waves per scaling level, see run_level


def _mk_spark(cpus: int):
    sys.path.insert(0, REPO)
    from pii_filter_spark.session import get_spark

    return get_spark(
        app_name=f"bench-local[{cpus}]",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )


def _force(df) -> None:
    """Materialize the full result without driver-side collect cost."""
    df.write.format("noop").mode("overwrite").save()


def _ensure_pipeline_input(spark, n: int) -> str:
    """Write (once) the deterministic synthetic image+caption table."""
    path = os.path.join(SCRATCH, f"input_n{n}_s{PIPE_SEED}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        from pii_filter_spark.sources.synth import build_input_table

        # 256 partitions: ~8 waves at 32 cores — fine-grained enough that
        # stragglers don't distort the scaling measurement.
        build_input_table(spark, n, seed=PIPE_SEED, num_partitions=256).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def _pipeline_secs(spark, input_path: str) -> float:
    """Timed flagship job: scan -> one fused quality+scrub stage -> noop."""
    from pii_filter_spark.pipeline import transform

    df = spark.read.parquet(input_path)
    t0 = time.perf_counter()
    _force(transform(df))
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def run_level(cpus: int) -> dict:
    """One scaling-mode measurement at local[cpus]; prints its own JSON.

    Split sizing: exactly 2 waves of equal tasks per level, so every level
    has the same task-granularity-to-core ratio (a real cluster reading
    100 TB has thousands of fixed-size splits per executor; two waves is
    the closest local-mode analog that keeps tasks multi-second).
    """
    sys.path.insert(0, REPO)
    from pii_filter_spark.session import get_spark

    path = os.path.join(SCRATCH, f"input_n{PIPE_N}_s{PIPE_SEED}")
    conf = {}
    if os.path.exists(path):
        per_split = max(8 << 20, _dir_bytes(path) // (WAVES * cpus) + 1)
        conf = {
            "spark.sql.files.maxPartitionBytes": str(per_split),
            "spark.sql.files.minPartitionNum": str(WAVES * cpus),
        }
    spark = get_spark(
        app_name=f"bench-local[{cpus}]",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    path = _ensure_pipeline_input(spark, PIPE_N)
    _pipeline_secs(spark, path)  # warm-up (JIT + Python worker pool)
    # min-of-3: the sandbox VM sees bursty hypervisor steal; the minimum
    # is the low-steal measurement the scaling ratio needs.
    secs = min(_pipeline_secs(spark, path) for _ in range(3))
    spark.stop()
    return {"cpus": cpus, "sec": secs, "images_per_sec": PIPE_N / secs}


def scaling_main() -> None:
    """One N→4N pair whose 4N level is the whole machine (N = nproc // 4,
    at least 1)."""
    n = max(1, (os.cpu_count() or 4) // 4)
    levels = (n, 4 * n)
    os.makedirs(SCRATCH, exist_ok=True)
    subprocess.run(  # generate the input once, on all cores
        [sys.executable, os.path.abspath(__file__), "--gen"],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    results = {}
    for _pass in range(2):  # interleaved passes: steal bursts hit one level,
        for cpus in levels:  # not the ratio
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run-level", str(cpus)],
                capture_output=True, text=True, check=True, cwd=REPO,
            )
            r = json.loads(out.stdout.strip().splitlines()[-1])
            if cpus not in results or r["sec"] < results[cpus]["sec"]:
                results[cpus] = r
            print(f"pass{_pass} local[{cpus}]: {r}", file=sys.stderr)
    eff = round((results[n]["sec"] / results[4 * n]["sec"]) / 4.0, 4)
    print(json.dumps({
        "metric": "scaling_efficiency_N_to_4N",
        "value": eff,
        "unit": "ratio",
        "n_images": PIPE_N,
        "efficiency": eff,
        "levels": {str(k): v for k, v in results.items()},
    }))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = sf_dir

    spark = _mk_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    # Warm-up: spin up the Python worker pool + Arrow path and JIT the scan
    # machinery so the first timed query isn't charged for session startup.
    from pyspark.sql.functions import col, pandas_udf

    _noop = pandas_udf(lambda s: s, "long")
    _force(
        spark.range(0, 100_000, 1, cpus).select(_noop(col("id")).alias("id"))
    )

    timings: dict[str, float] = {}
    for name, fn in entrymod.queries().items():
        best = float("inf")
        for _ in range(2):  # min-of-2: drop one-time plan/JIT overhead
            # time CONSTRUCTION + execution: queries with eager driver-side
            # work (dedup_clusters' iterative propagation, IVF training,
            # query-vector .first()) do real cluster work before the
            # DataFrame exists — timing only _force() under-reported them
            # (round-3 fix; earlier rounds' per-query numbers for those
            # queries measured the final read only).
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        print(f"{name}: {timings[name]:.3f}s", file=sys.stderr)

    # Flagship image+caption pipeline throughput on the synthetic input table.
    os.makedirs(SCRATCH, exist_ok=True)
    path = _ensure_pipeline_input(spark, PIPE_N)
    _pipeline_secs(spark, path)  # warm-up
    pipe_sec = min(_pipeline_secs(spark, path) for _ in range(3))
    timings["pipeline_images"] = round(pipe_sec, 4)
    print(f"pipeline_images: {pipe_sec:.3f}s "
          f"({PIPE_N / pipe_sec:.0f} images/s)", file=sys.stderr)

    total = round(sum(timings.values()), 4)
    spark.stop()
    print(json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "images_per_sec": round(PIPE_N / pipe_sec, 1),
    }))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling_main()
    elif "--gen" in sys.argv:
        spark = _mk_spark(os.cpu_count() or 4)
        spark.sparkContext.setLogLevel("ERROR")
        os.makedirs(SCRATCH, exist_ok=True)
        _ensure_pipeline_input(spark, PIPE_N)
        spark.stop()
    elif "--run-level" in sys.argv:
        cpus = int(sys.argv[sys.argv.index("--run-level") + 1])
        print(json.dumps(run_level(cpus)))
    else:
        main()
