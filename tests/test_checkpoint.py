"""Resume-after-kill: identical output + idempotent metrics (FIXTURES.md B3)."""

import os
import shutil

import pyarrow.parquet as pq
import pytest

from pii_filter_spark.pipeline import run_pipeline
from pii_filter_spark.sources import table_io
from pii_filter_spark.sources.synth import write_input_table

N = 200
SEED = 13
PARTS, BATCH = 12, 3
COUNT_FIELDS = ("rows_in", "rows_kept", "rows_dropped", "scrub_count",
                "drop_reason_counts")
# what spark.read.parquet gave for the earlier partitionBy(part_id) layout
PARTITIONED_SCHEMA = (
    "struct<image_id:string,bytes:binary,w:int,h:int,fmt:string,caption:string,"
    "phash:bigint,lang:string,ppl:double,drop_reasons:array<string>,keep:boolean,"
    "scrubbed_caption:string,pii_masked:array<struct<placeholder:string,"
    "original_value:string,type:string,span_start:int,span_end:int>>,"
    "scrub_count:int,part_id:int>"
)


def _table_fingerprint(spark, path):
    df = table_io.read_table(spark, path)
    rows = df.select(
        "image_id", "scrubbed_caption", "keep", "scrub_count", "part_id"
    ).collect()
    return sorted((r[0], r[1], r[2], r[3], r[4]) for r in rows)


def _recount(path):
    """Per-part manifest counts recomputed from the written parquet with
    pyarrow, independent of Spark and of the pipeline's own counting."""
    t = pq.read_table(path, columns=["part_id", "keep", "drop_reasons", "pii_masked"])
    counts = {p: {"rows_in": 0, "rows_kept": 0, "rows_dropped": 0, "scrub_count": 0,
                  "drop_reason_counts": {}} for p in range(PARTS)}
    for r in t.to_pylist():
        c = counts[r["part_id"]]
        c["rows_in"] += 1
        c["rows_kept" if r["keep"] else "rows_dropped"] += 1
        c["scrub_count"] += len(r["pii_masked"])
        for reason in r["drop_reasons"]:
            c["drop_reason_counts"][reason] = c["drop_reason_counts"].get(reason, 0) + 1
    return counts


def _killed_after(entries):
    """A table_io.write_manifest_entry that raises right after writing its
    `entries`-th entry: run_pipeline dies once those entries' batches
    have committed, before the next batch's write."""
    write_entry = table_io.write_manifest_entry
    written = []

    def killed(path, part_id, payload):
        write_entry(path, part_id, payload)
        written.append(part_id)
        if len(written) == entries:
            raise RuntimeError("killed after a batch commit")
    return killed


@pytest.fixture(scope="module")
def source(spark, tmp_path_factory):
    inp = str(tmp_path_factory.mktemp("ckpt_in") / "input")
    write_input_table(spark, inp, N, seed=SEED, num_partitions=4)
    return inp


@pytest.fixture(scope="module")
def runs(spark, source, tmp_path_factory):
    """(uninterrupted output, killed-then-resumed output, parts done before
    the kill, parts the resume processed)."""
    root = tmp_path_factory.mktemp("ckpt")
    ref_out = str(root / "ref")
    run_pipeline(spark, source, ref_out, num_parts=PARTS, batch_parts=BATCH)

    # killed run: dies after 2 of 4 batches, then resumes
    out = str(root / "resumed")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(table_io, "write_manifest_entry", _killed_after(2 * BATCH))
        with pytest.raises(RuntimeError, match="killed after a batch commit"):
            run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH)
    done_before = set(table_io.completed_part_ids(out))
    processed = run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH)
    return ref_out, out, done_before, processed


def _batch_dirs(path):
    return {n for n in os.listdir(path) if n.startswith("batch-")}


def test_kill_and_resume_identical(spark, runs):
    ref_out, out, done_before, processed = runs
    assert 0 < len(done_before) < PARTS
    # resume: must only process the missing partitions
    assert set(processed) == set(range(PARTS)) - done_before

    assert _table_fingerprint(spark, out) == _table_fingerprint(spark, ref_out)
    ref_manifest = {e["part_id"]: e for e in table_io.read_manifest(ref_out)}
    manifest = {e["part_id"]: e for e in table_io.read_manifest(out)}
    assert set(manifest) == set(range(PARTS))
    for p, e in manifest.items():
        for key in COUNT_FIELDS:
            assert e[key] == ref_manifest[p][key], (p, key)


@pytest.mark.parametrize("which", ["straight", "resumed"])
def test_manifest_equals_independent_recount(runs, which):
    """Every manifest entry, counted inside the write pass, equals a pyarrow
    recount of the rows that pass wrote."""
    path = runs[0] if which == "straight" else runs[1]
    recount = _recount(path)
    manifest = {e["part_id"]: e for e in table_io.read_manifest(path)}
    assert set(manifest) == set(range(PARTS))
    for p, e in manifest.items():
        assert {k: e[k] for k in COUNT_FIELDS} == recount[p], p
        assert list(e["drop_reason_counts"]) == sorted(e["drop_reason_counts"])
        assert set(e["layer_ms"]) == {"lang", "ppl", "rules", "scrub"}
        assert all(ms >= 0 for ms in e["layer_ms"].values())
    # the synth rows exercise every counter
    assert sum(c["rows_dropped"] for c in recount.values()) > 0
    assert sum(c["rows_kept"] for c in recount.values()) > 0
    assert sum(c["scrub_count"] for c in recount.values()) > 0
    assert len({r for c in recount.values() for r in c["drop_reason_counts"]}) > 1


@pytest.mark.parametrize("entries_before_kill", [0, 1],
                         ids=["after_write", "after_first_entry"])
def test_resume_after_a_kill_inside_a_batch_commit(
        spark, source, runs, tmp_path, monkeypatch, entries_before_kill):
    """A run killed after batch 2's write, before any or after one of its
    manifest entries. The resume must give the straight run's table and
    counts: the half-committed batch's rows must neither be lost nor kept
    twice, and its directory must not outlive the resume."""
    out = str(tmp_path / "out")
    write_entry = table_io.write_manifest_entry
    written = []

    def killed(path, part_id, payload):
        if len(written) == BATCH + entries_before_kill:
            raise RuntimeError("killed inside the commit")
        written.append(part_id)
        write_entry(path, part_id, payload)

    monkeypatch.setattr(table_io, "write_manifest_entry", killed)
    with pytest.raises(RuntimeError, match="killed inside the commit"):
        run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH)
    monkeypatch.undo()
    assert len(table_io.read_manifest(out)) == BATCH + entries_before_kill

    run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH)
    assert _table_fingerprint(spark, out) == _table_fingerprint(spark, runs[0])
    recount = _recount(out)
    manifest = {e["part_id"]: e for e in table_io.read_manifest(out)}
    assert set(manifest) == set(range(PARTS))
    for p, e in manifest.items():
        assert {k: e[k] for k in COUNT_FIELDS} == recount[p], p
    assert _batch_dirs(out) == _batch_dirs(runs[0])


def test_batches_are_plain_directories_that_the_manifest_names(
        spark, source, runs, tmp_path):
    """One plain write per batch: a batch-<first part> directory holding one
    file per input split (4), no part_id=K directories, and the schema the
    partitioned layout read back with. A batch directory that no entry
    names is not part of the table, and the next run deletes it."""
    ref_out = runs[0]
    manifest = table_io.read_manifest(ref_out)
    batches = [list(range(b, b + BATCH)) for b in range(0, PARTS, BATCH)]
    assert {e["part_id"]: (e["batch_dir"], e["batch_part_ids"]) for e in manifest} == {
        p: (f"batch-{b[0]:05d}", b) for b in batches for p in b}
    assert sorted(os.listdir(ref_out)) == ["_manifest", *sorted(_batch_dirs(ref_out))]
    for d in _batch_dirs(ref_out):
        names = os.listdir(os.path.join(ref_out, d))
        assert all(os.path.isfile(os.path.join(ref_out, d, n)) for n in names)
        assert 1 <= sum(n.endswith(".parquet") for n in names) <= 4
    assert table_io.read_table(spark, ref_out).schema.simpleString() == PARTITIONED_SCHEMA

    out = str(tmp_path / "out")
    shutil.copytree(ref_out, out)
    shutil.copytree(os.path.join(out, "batch-00000"), os.path.join(out, "batch-00001"))
    assert _table_fingerprint(spark, out) == _table_fingerprint(spark, ref_out)
    assert run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH) == []
    assert _batch_dirs(out) == _batch_dirs(ref_out)


def test_resume_of_a_partitioned_layout_output_is_refused(spark, source, tmp_path):
    """An output of the earlier part_id=K layout has entries that name no
    batch directory; resuming it must fail before writing anything."""
    out = str(tmp_path / "out")
    table_io.write_manifest_entry(out, 0, {"snapshot_id": "snap-0", "num_parts": PARTS})
    with pytest.raises(ValueError, match="names no batch directories"):
        run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH)
    assert os.listdir(out) == ["_manifest"]


def test_rerun_on_complete_output_is_noop(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("noop")
    inp = str(root / "input")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=2)
    out = str(root / "out")
    run_pipeline(spark, inp, out, num_parts=4, batch_parts=2)
    fp1 = _table_fingerprint(spark, out)
    assert run_pipeline(spark, inp, out, num_parts=4, batch_parts=2) == []
    assert _table_fingerprint(spark, out) == fp1


def test_resume_with_other_num_parts_is_refused(spark, tmp_path_factory, monkeypatch):
    """Rows hash to part_ids by num_parts, so a resume with another count
    would skip or duplicate rows: it must fail before writing anything."""
    root = tmp_path_factory.mktemp("parts")
    inp = str(root / "input")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=2)
    out = str(root / "out")
    monkeypatch.setattr(table_io, "write_manifest_entry", _killed_after(2))
    with pytest.raises(RuntimeError, match="killed after a batch commit"):
        run_pipeline(spark, inp, out, num_parts=4, batch_parts=2)
    monkeypatch.undo()
    before = table_io.read_manifest(out)
    assert {e["num_parts"] for e in before} == {4}
    with pytest.raises(ValueError, match=r"num_parts=8 .*num_parts=4"):
        run_pipeline(spark, inp, out, num_parts=8, batch_parts=2)
    assert table_io.read_manifest(out) == before


def test_run_pipeline_leaves_the_session_overwrite_mode(spark, tmp_path):
    """The pipeline's batch writes change no session setting; the caller's
    session keeps its partitionOverwriteMode, so a later overwrite in that
    session still replaces the whole table."""
    key = "spark.sql.sources.partitionOverwriteMode"
    inp = str(tmp_path / "input")
    write_input_table(spark, inp, 40, seed=SEED, num_partitions=2)
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        run_pipeline(spark, inp, str(tmp_path / "out"), num_parts=4, batch_parts=2)
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)
