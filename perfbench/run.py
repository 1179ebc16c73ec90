#!/usr/bin/env python3
"""Benchmark of the production caption-scrub job, end to end and per layer.

    python3 perfbench/run.py --workload caption_scrub --seed 1 --seconds 10 --trace 0

Run from the repository root. One run is one process: it builds (or
reuses) the seeded input, starts a local[N] session with N = the CPUs this
process may use, warms the Python workers with a small `pipeline.transform`
pass, then runs `pipeline.run_pipeline` at the production job's defaults
(256 parts, 32 per batch) into fresh outputs until --seconds have passed
(at least one pass), and checks every pass's output.

--trace 0 prints the end-to-end metrics. --trace 1 runs the same pass with
Spark's event log on, times each layer from outside and prints the
per-layer metrics. The last line of stdout is the result JSON; a run
record with host facts, per-pass walls, cache build time and spans lands
in .perfbench/runs/. README.md in this directory maps each per-layer
metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170


def _since_process_start() -> float:
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    t_origin = time.perf_counter() - _since_process_start()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pii_filter_spark", "pipeline.py")):
        print(f"perfbench: no pii_filter_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.inputs import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    units = _units()
    # Everything the run writes stays under the checkout: Spark's local
    # dirs and the JVM's and Python workers' temp files go to a per-run
    # work dir, removed at the end together with the pass outputs.
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}-{os.getpid()}"
    work = os.path.join(SCRATCH, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # -XX:-UsePerfData: the JVM writes its perf-data file under /tmp
    # whatever java.io.tmpdir says; the driver JVM gets it in job.py.
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
                      PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
                      SPARK_LAUNCHER_OPTS=" ".join(filter(None, [
                          os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])))
    # a 1 GB driver heap keeps the run small on a shared host
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    try:
        from perfbench import job

        result = job.run(args, t_origin, run_id, tmp)
    finally:
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    result["metrics"] = {k: {"value": v, "unit": units[k]}
                         for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
