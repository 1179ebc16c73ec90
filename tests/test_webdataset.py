"""WebDataset shard export: ustar codec + Spark export read back with
stdlib tarfile."""

import hashlib
import io
import json
import tarfile

from pii_filter_spark.sources.synth import build_input_table
from pii_filter_spark.sources.webdataset import (
    NUM_SHARDS,
    build_shard_tar,
    sample_entries,
    shard_of,
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


def test_spark_export_ingest_roundtrip(spark):
    imgs = build_input_table(spark, 60, seed=42, num_partitions=4).select(
        "image_id", "bytes", "caption", "fmt", "w", "h"
    )
    facts = {r["shard_id"]: r for r in write_webdataset(imgs).collect()}
    assert sorted(facts) == list(range(NUM_SHARDS))
    assert sum(r["n_samples"] for r in facts.values()) == 60

    # rebuild each shard from its rows: the bytes are the executors' own
    # (same length and md5), and stdlib tarfile reads them back into
    # {key}.{ext} + .txt + .json
    want = {r["image_id"]: r for r in imgs.collect()}
    shards = {}
    for r in want.values():
        shards.setdefault(shard_of(r["image_id"]), []).append(r.asDict())
    got, n_read = {}, 0
    for sid, rows in sorted(shards.items()):
        data = build_shard_tar(rows)
        assert (len(data), hashlib.md5(data).hexdigest()) == (
            facts[sid]["tar_len"], facts[sid]["tar_md5"])
        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
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
    assert n_read == len(got)
    assert set(got) == set(want)
    for k in want:
        assert bytes(got[k]["bytes"]) == bytes(want[k]["bytes"])
        assert got[k]["caption"] == want[k]["caption"]
        assert (got[k]["fmt"], got[k]["w"], got[k]["h"]) == (
            want[k]["fmt"], want[k]["w"], want[k]["h"])
