"""WebDataset shard export: ustar codec + Spark export read back with
stdlib tarfile."""

import io
import json
import os
import tarfile

from pii_filter_spark.sources.synth import build_input_table
from pii_filter_spark.sources.webdataset import (
    build_shard_tar,
    sample_entries,
    tar_bytes,
    write_webdataset,
)


def test_tar_roundtrip_and_spec_conformance():
    entries = [
        ("a.txt", b"hello"),
        ("b.bin", bytes(range(256)) * 3),   # size not a block multiple
        ("empty.txt", b""),
    ]
    data = tar_bytes(entries)
    assert len(data) % 512 == 0
    # the stdlib tarfile reader must accept our ustar bytes (spec check)
    with tarfile.open(fileobj=io.BytesIO(data)) as tf:
        got = [(m.name, tf.extractfile(m).read()) for m in tf.getmembers()]
    assert got == entries


def test_tar_determinism():
    rows = [{
        "image_id": f"img_{i:08d}", "bytes": bytes([i] * 100),
        "caption": f"caption {i}", "fmt": "png", "w": 10, "h": 10,
    } for i in range(9)]
    assert build_shard_tar(rows) == build_shard_tar(list(reversed(rows)))


def test_sample_entries_shape():
    e = dict(sample_entries("k1", b"\x89PNG", "Olá", "png", 8, 6))
    assert set(e) == {"k1.png", "k1.txt", "k1.json"}
    assert e["k1.txt"].decode() == "Olá"
    assert b'"image_id":"k1"' in e["k1.json"]


def test_spark_export_ingest_roundtrip(spark, tmp_path):
    out = str(tmp_path / "wds")
    imgs = build_input_table(spark, 60, seed=42, num_partitions=4).select(
        "image_id", "bytes", "caption", "fmt", "w", "h"
    )
    facts = write_webdataset(imgs, num_shards=4, out_dir=out).collect()
    assert sorted(r["shard_id"] for r in facts) == [0, 1, 2, 3]
    assert sum(r["n_samples"] for r in facts) == 60

    # read the shards back with stdlib tarfile: {key}.{ext} + .txt + .json
    got, n_read = {}, 0
    for name in sorted(f for f in os.listdir(out) if f.endswith(".tar")):
        with tarfile.open(os.path.join(out, name)) as tf:
            files = {m.name: tf.extractfile(m).read() for m in tf.getmembers()}
        keys = {n.rsplit(".", 1)[0] for n in files}
        n_read += len(keys)
        for k in keys:
            meta = json.loads(files[f"{k}.json"])
            ext = {"jpeg": "jpg", "png": "png"}.get(meta["fmt"], "bin")
            got[meta["image_id"]] = {
                "bytes": files[f"{k}.{ext}"],
                "caption": files[f"{k}.txt"].decode("utf-8"),
                "fmt": meta["fmt"], "w": meta["w"], "h": meta["h"],
            }
    want = {r["image_id"]: r for r in imgs.collect()}
    assert n_read == len(got)
    assert set(got) == set(want)
    for k in want:
        assert bytes(got[k]["bytes"]) == bytes(want[k]["bytes"])
        assert got[k]["caption"] == want[k]["caption"]
        assert (got[k]["fmt"], got[k]["w"], got[k]["h"]) == (
            want[k]["fmt"], want[k]["w"], want[k]["h"])
