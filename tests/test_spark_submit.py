"""End-to-end `spark-submit --py-files` submission (north-rule path).

Proves the cluster submission recipe in jobs/run_scrub_job.py's header
actually works: the package travels as pipeline.zip via --py-files (the
job script is copied OUT of the repo tree so its repo-root sys.path
fallback points nowhere and the zip is the only way to import
pii_filter_spark), the job emits the JSON summary, and a re-run with the
same --output resumes as a no-op from the per-partition manifest.
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _build_zip(tmp) -> str:
    zpath = os.path.join(tmp, "pipeline.zip")
    pkg = os.path.join(REPO, "pii_filter_spark")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def _submit(tmp, zpath, job, out):
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", zpath,
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            job,
            "--synthetic", "400",
            "--output", out,
            "--num-parts", "8",
            "--batch-parts", "4",
        ],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    summary_lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    assert summary_lines, r.stdout[-2000:]
    return json.loads(summary_lines[-1])


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_py_files_run_and_resume(tmp_path):
    tmp = str(tmp_path)
    zpath = _build_zip(tmp)
    # Copy the job OUT of the repo: its repo-root sys.path fallback then
    # points at tmp_path (no package there), so only --py-files can
    # satisfy `import pii_filter_spark` on driver AND executors.
    job = os.path.join(tmp, "run_scrub_job.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_scrub_job.py"), job)
    out = os.path.join(tmp, "scrub_out")

    s1 = _submit(tmp, zpath, job, out)
    assert s1["partitions_total"] == 8
    assert s1["partitions_resumed_from"] == 0
    assert s1["partitions_processed_this_run"] == 8
    assert s1["rows_in"] == 400
    assert s1["rows_kept"] + s1["rows_dropped"] == 400
    assert s1["rows_kept"] > 0
    assert set(s1["layer_ms_this_run"]) == {"lang", "ppl", "rules", "scrub"}
    assert all(ms > 0 for ms in s1["layer_ms_this_run"].values())

    # Resume: same --output, nothing left to do, metrics idempotent.
    s2 = _submit(tmp, zpath, job, out)
    assert s2["partitions_resumed_from"] == 8
    assert s2["partitions_processed_this_run"] == 0
    assert s2["rows_in"] == 400
    assert s2["rows_kept"] == s1["rows_kept"]
    assert s2["scrub_count"] == s1["scrub_count"]
    assert s2["layer_ms_this_run"] == {}
