"""TableIO seam: a parquet-directory table with an Iceberg-style manifest.

The production target is an Iceberg table (north rule / input_hint); no
Iceberg runtime jars ship with this engine, so the table is a
parquet-directory table with an explicit JSON manifest directory that gives
us the two Iceberg behaviours the pipeline depends on:
  * snapshot-ish atomicity — each batch of output partitions lands in
    its own directory, and a table with a manifest reads only the
    directories its entries name, so rows count only once their manifest
    entry exists;
  * metadata for checkpoint/resume — the manifest doubles as the
    completed-partition set (pipeline.run_pipeline).

Moving to Iceberg is a code change, not a config change: `read_table`
resolves the manifest and the snapshot log itself, and the manifest and
snapshot writers here, with run_pipeline's per-batch parquet write, would
give way to Iceberg's reader, writer and snapshot metadata.
"""

from __future__ import annotations

import json
import os
from typing import Dict, List, Optional

from pyspark.sql import DataFrame, SparkSession


def read_table(
    spark: SparkSession, path: str, snapshot_id: Optional[int] = None
) -> DataFrame:
    """Read a table (parquet directory or file).

    If the table has a snapshot log (written via snapshot_write), reads
    resolve through it: the CURRENT snapshot's file list by default, or
    any retained historical snapshot via `snapshot_id` — the Iceberg
    time-travel surface (`VERSION AS OF`) on the parquet fallback. A
    table with a manifest (pipeline.run_pipeline's output) reads the
    batch directories its entries name. Plain directories read directly.
    """
    if snapshot_id is not None or os.path.isdir(snapshots_dir(path)):
        snaps = {s["snapshot_id"]: s for s in list_snapshots(path)}
        if snapshot_id is None:
            snapshot_id = current_snapshot_id(path)
        if snapshot_id not in snaps:
            raise ValueError(
                f"snapshot {snapshot_id} not found in {path} "
                f"(have {sorted(snaps)})"
            )
        files = [os.path.join(path, f) for f in snaps[snapshot_id]["files"]]
        return spark.read.parquet(*files)
    entries = read_manifest(path)
    if entries:
        dirs = sorted({e["batch_dir"] for e in entries})
        return spark.read.parquet(*(os.path.join(path, d) for d in dirs))
    return spark.read.parquet(path)


# --- snapshot log (Iceberg-style time travel on the parquet fallback) -------
#
# Mirrors the three Iceberg metadata behaviours the north rule's lineage
# story needs, without the runtime jars:
#   * every write is a new immutable SNAPSHOT (monotonic id, parent link,
#     operation, explicit data-file list);
#   * old snapshots retain their files — an overwrite supersedes the
#     current pointer but snapshot N-1 stays readable (time travel);
#   * commits are atomic: the vN.json and the `current` pointer land via
#     write-temp + os.replace, so a killed writer never publishes a
#     partial snapshot. (Real Iceberg does CAS on the pointer; the
#     single-writer fallback is last-write-wins, documented.)

def snapshots_dir(table_path: str) -> str:
    return os.path.join(table_path, "_snapshots")


def list_snapshots(table_path: str) -> List[Dict]:
    d = snapshots_dir(table_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("v") and name.endswith(".json"):
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                out.append(json.load(fh))
    return out


def current_snapshot_id(table_path: str) -> Optional[int]:
    ptr = os.path.join(snapshots_dir(table_path), "current")
    if not os.path.isfile(ptr):
        return None
    with open(ptr, encoding="utf-8") as fh:
        return int(fh.read().strip())


def _publish(path: str, content: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(content)
    os.replace(tmp, path)


def snapshot_write(df: DataFrame, table_path: str) -> int:
    """Write `df` as a new snapshot of the table that overwrites the
    current one; returns its id.

    The new snapshot's file list is just the new files — but the
    parent's files stay on disk and its snapshot stays readable. Data
    files land under data/s{id:05d}/ so concurrent historical reads
    never race with new writes.
    """
    snaps = list_snapshots(table_path)
    parent = current_snapshot_id(table_path)
    new_id = (max((s["snapshot_id"] for s in snaps), default=0)) + 1
    rel_dir = os.path.join("data", f"s{new_id:05d}")
    out_dir = os.path.join(table_path, rel_dir)
    df.write.mode("errorifexists").parquet(out_dir)
    snap = {
        "snapshot_id": new_id,
        "parent_id": parent,
        "operation": "overwrite",
        "files": [rel_dir],
        "added_files": [rel_dir],
    }
    d = snapshots_dir(table_path)
    os.makedirs(d, exist_ok=True)
    _publish(
        os.path.join(d, f"v{new_id:05d}.json"),
        json.dumps(snap, sort_keys=True),
    )
    _publish(os.path.join(d, "current"), str(new_id))
    return new_id


# --- manifest (snapshot/lineage sidecar) -----------------------------------

def manifest_dir(table_path: str) -> str:
    return os.path.join(table_path, "_manifest")


def write_manifest_entry(table_path: str, part_id: int, payload: Dict) -> None:
    """Atomically record completion of one logical partition (write temp +
    rename — POSIX rename is atomic, so a killed run never leaves a partial
    entry and re-runs are last-write-wins idempotent)."""
    d = manifest_dir(table_path)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"part-{part_id:05d}.json")
    tmp = final + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"part_id": part_id, **payload}, fh, sort_keys=True)
    os.replace(tmp, final)


def drop_manifest_entry(table_path: str, part_id: int) -> None:
    os.remove(os.path.join(manifest_dir(table_path), f"part-{part_id:05d}.json"))


def read_manifest(table_path: str) -> List[Dict]:
    d = manifest_dir(table_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if name.startswith("part-") and name.endswith(".json"):
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                out.append(json.load(fh))
    return out


def completed_part_ids(table_path: str) -> List[int]:
    return sorted(e["part_id"] for e in read_manifest(table_path))


def merge_upsert(spark: SparkSession, table_path: str, updates: DataFrame) -> int:
    """Copy-on-write MERGE into the snapshot table (the Iceberg CoW
    shape), keyed by `doc_id`: the new snapshot is updates ∪ (current
    rows whose key has no update) — an UPDATE for existing keys, an INSERT for new ones,
    atomically published as one snapshot; the parent snapshot stays
    readable (time travel covers pre-merge state).

    Scale shape: the anti-join's build side is the update KEY SET
    (broadcast when small — the overwhelmingly common incremental-crawl
    case). A real Iceberg CoW run rewrites only the FILES whose key
    ranges intersect the updates via file-level stats pruning; this
    parquet-fallback seam rewrites the table because the fallback keeps
    no per-file stats index — the join shape is the part that carries
    to the real table format. Returns the new snapshot id."""
    current = read_table(spark, table_path)
    keys = updates.select("doc_id").distinct()
    kept = current.join(keys, "doc_id", "left_anti")
    merged = kept.unionByName(updates)
    return snapshot_write(merged, table_path)
