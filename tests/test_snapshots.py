"""Snapshot log: Iceberg-style time travel on the parquet fallback
(round-3 VERDICT #6 — exercise the lineage story, don't just assert it)."""

import pytest
from pyspark.sql import functions as F

from pii_filter_spark.sources.table_io import (
    current_snapshot_id,
    list_snapshots,
    read_table,
    snapshot_write,
)


def test_snapshot_overwrite_keeps_history_readable(spark, tmp_path):
    """An overwrite supersedes the current pointer, but the previous
    snapshot's files are retained and stay readable — the core Iceberg
    time-travel guarantee the README's lineage story depends on."""
    tbl = str(tmp_path / "tbl")
    s1 = snapshot_write(
        spark.range(5).select(F.col("id"), F.lit("old").alias("tag")), tbl
    )
    s2 = snapshot_write(
        spark.range(100, 103).select(F.col("id"), F.lit("new").alias("tag")),
        tbl,
    )
    assert (s1, s2) == (1, 2)
    assert current_snapshot_id(tbl) == s2 == 2
    assert read_table(spark, tbl).count() == 3          # overwritten view
    prev = read_table(spark, tbl, snapshot_id=1)        # time travel
    assert prev.count() == 5
    assert {r.tag for r in prev.collect()} == {"old"}

    with pytest.raises(ValueError, match="snapshot 9 not found"):
        read_table(spark, tbl, snapshot_id=9)

    # snapshot metadata: parent chain + explicit file lists
    snaps = {s["snapshot_id"]: s for s in list_snapshots(tbl)}
    assert snaps[1]["parent_id"] is None
    assert snaps[2]["parent_id"] == 1
    assert snaps[2]["files"] == snaps[2]["added_files"] != snaps[1]["files"]


def test_plain_directory_read_unaffected(spark, tmp_path):
    p = str(tmp_path / "plain")
    spark.range(7).write.parquet(p)
    assert read_table(spark, p).count() == 7


def test_merge_upsert_cow_semantics_and_time_travel(spark, tmp_path):
    from pyspark.sql import functions as F

    from pii_filter_spark.sources import table_io

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"t{i}", "base") for i in range(10)],
        "doc_id long, text string, rev string",
    )
    s1 = table_io.snapshot_write(base, path)
    updates = spark.createDataFrame(
        [(2, "t2x", "upd"), (7, "t7x", "upd"), (100, "t100", "new")],
        "doc_id long, text string, rev string",
    )
    s2 = table_io.merge_upsert(spark, path, updates)
    assert s2 == s1 + 1

    merged = {r["doc_id"]: (r["text"], r["rev"])
              for r in table_io.read_table(spark, path).collect()}
    assert len(merged) == 11
    assert merged[2] == ("t2x", "upd")       # updated in place
    assert merged[7] == ("t7x", "upd")
    assert merged[100] == ("t100", "new")    # inserted
    assert merged[3] == ("t3", "base")       # untouched rows survive

    # the pre-merge snapshot is still readable (time travel)
    old = table_io.read_table(spark, path, snapshot_id=s1)
    assert old.count() == 10
    assert old.where(F.col("doc_id") == 2).first()["text"] == "t2"


def test_snapshot_merge_scratch_dir_is_per_process(tmp_path):
    """Two concurrent processes get different q_snapshot_merge scratch dirs
    for the same sf_dir (neither can rmtree the other's table), and each
    dir is removed when its interpreter exits."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import os, sys, __spark_entry__ as em\n"
        "d = em._snapshot_merge_dir('/data/sf0.01')\n"
        "os.makedirs(d)\n"
        "print(d, flush=True)\n"
        "sys.stdin.read()\n"  # stay alive until both have resolved
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    procs = [
        subprocess.Popen([sys.executable, "-c", code], cwd=repo, env=env, text=True,
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        for _ in range(2)
    ]
    dirs = [p.stdout.readline().strip() for p in procs]
    assert all(os.path.isdir(d) for d in dirs)
    for p in procs:
        p.communicate("", timeout=60)
        assert p.returncode == 0
    assert dirs[0] != dirs[1]
    assert not any(os.path.exists(d) for d in dirs)
