"""Resume-after-kill: identical output + idempotent metrics (FIXTURES.md B3)."""

import os
import shutil
import threading
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pii_filter_spark import pipeline
from pii_filter_spark.pipeline import run_pipeline
from pii_filter_spark.sources import table_io
from pii_filter_spark.sources.synth import build_input_table, write_input_table

N = 200
SEED = 13
PARTS, BATCH = 12, 3
# how long a test waits for a second batch in flight; a run that keeps one
# batch at a time fails after it instead of hanging
IN_FLIGHT_WAIT_S = 30
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


def _recount(path, parts=PARTS):
    """Per-part manifest counts recomputed from the written parquet with
    pyarrow, independent of Spark and of the pipeline's own counting."""
    t = pq.read_table(path, columns=["part_id", "keep", "drop_reasons", "pii_masked"])
    counts = {p: {"rows_in": 0, "rows_kept": 0, "rows_dropped": 0, "scrub_count": 0,
                  "drop_reason_counts": {}} for p in range(parts)}
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
    `entries`-th entry, counted over every batch thread. The batch that
    wrote it fails: no further batch starts, and run_pipeline raises once
    the other batch in flight is cancelled or has committed. Batches
    whose entries all landed stay committed."""
    write_entry = table_io.write_manifest_entry
    written = []
    lock = threading.Lock()

    def killed(path, part_id, payload):
        write_entry(path, part_id, payload)
        with lock:
            written.append(part_id)
            n = len(written)
        if n == entries:
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


@pytest.fixture(scope="module")
def five_files(spark, tmp_path_factory):
    """(a 5-file input, its uninterrupted output). Its file part ranges
    straddle batch boundaries, so a batch reads a file that another batch
    reads too."""
    root = tmp_path_factory.mktemp("ckpt5")
    inp, ref_out = str(root / "input"), str(root / "ref")
    write_input_table(spark, inp, N, seed=SEED, num_partitions=5)
    ranges = list(pipeline.part_ranges(table_io.read_table(spark, inp).inputFiles(), PARTS).values())
    assert [(r.start, r.stop) for r in ranges] == [(0, 2), (2, 4), (4, 7), (7, 9), (9, 12)]
    run_pipeline(spark, inp, ref_out, num_parts=PARTS, batch_parts=BATCH)
    return inp, ref_out


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


@pytest.mark.parametrize("entries_before_kill, five", [
    pytest.param(0, False, id="after_write"),
    pytest.param(1, False, id="after_first_entry"),
    pytest.param(0, True, id="after_write-5_files"),
    pytest.param(1, True, id="after_first_entry-5_files"),
])
def test_resume_after_a_kill_inside_a_batch_commit(
        spark, source, runs, tmp_path, monkeypatch, request, entries_before_kill, five):
    """A run killed once a first batch has committed, after the next
    batch's write, before any or after one of its manifest entries, on
    the 4-file input (one file per batch) and on the 5-file one (file
    ranges straddle batches). The resume must give the straight run's
    table and counts: the half-committed batch's rows must neither be
    lost nor kept twice, and its directory must not outlive the resume."""
    source, ref_out = request.getfixturevalue("five_files") if five else (source, runs[0])
    out = str(tmp_path / "out")
    write_entry = table_io.write_manifest_entry
    written = []
    lock = threading.Lock()

    def killed(path, part_id, payload):
        with lock:
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
    assert _table_fingerprint(spark, out) == _table_fingerprint(spark, ref_out)
    recount = _recount(out)
    manifest = {e["part_id"]: e for e in table_io.read_manifest(out)}
    assert set(manifest) == set(range(PARTS))
    for p, e in manifest.items():
        assert {k: e[k] for k in COUNT_FIELDS} == recount[p], p
    assert _batch_dirs(out) == _batch_dirs(ref_out)


def test_resume_after_a_later_batch_committed_first(spark, source, runs, tmp_path,
                                                   monkeypatch):
    """Batch 0's first entry is held until batch 1 has committed, then the
    run dies: the later batch is committed and the earlier one not. The
    resume must give the straight run's table, counts and directories."""
    out = str(tmp_path / "out")
    write_entry = table_io.write_manifest_entry
    batch1_committed = threading.Event()

    def held(path, part_id, payload):
        if part_id == 0:
            if not batch1_committed.wait(IN_FLIGHT_WAIT_S):
                raise TimeoutError("batch 1 did not commit while batch 0 was held")
            raise RuntimeError("killed before batch 0's first entry")
        write_entry(path, part_id, payload)
        if part_id == 2 * BATCH - 1:
            batch1_committed.set()

    monkeypatch.setattr(table_io, "write_manifest_entry", held)
    with pytest.raises(RuntimeError, match="killed before batch 0's first entry"):
        run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH)
    monkeypatch.undo()
    done = set(table_io.completed_part_ids(out))
    assert set(range(BATCH, 2 * BATCH)) <= done
    assert not done & set(range(BATCH))

    processed = run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH)
    assert set(processed) == set(range(PARTS)) - done
    assert _table_fingerprint(spark, out) == _table_fingerprint(spark, runs[0])
    recount = _recount(out)
    manifest = {e["part_id"]: e for e in table_io.read_manifest(out)}
    assert set(manifest) == set(range(PARTS))
    for p, e in manifest.items():
        assert {k: e[k] for k in COUNT_FIELDS} == recount[p], p
    assert _batch_dirs(out) == _batch_dirs(runs[0])


def test_a_batch_failure_cancels_the_other_batch_and_starts_no_more(
        spark, source, tmp_path, monkeypatch):
    """Batch 0 fails inside its write while batch 1, whose one task would
    run for a minute, is in flight. The run must raise batch 0's error
    soon after, with batch 1's job cancelled, no later batch built, and
    nothing committed."""
    out = str(tmp_path / "out")
    frame = pipeline.batch_frame
    built = []
    batch1_built = threading.Event()

    @pandas_udf("int")
    def slow(part: pd.Series) -> pd.Series:
        import time

        time.sleep(60)
        return part

    def failing(src, parts, counts):
        built.append(parts[0])
        df = frame(src, parts, counts)
        if parts[0] == BATCH:
            batch1_built.set()
            return df.coalesce(1).withColumn("part_id", slow("part_id"))
        if not batch1_built.wait(IN_FLIGHT_WAIT_S):
            raise TimeoutError("batch 1 did not start while batch 0 ran")
        return df.withColumn("part_id", F.when(
            F.col("part_id") >= 0, F.raise_error(F.lit("batch 0 fails in its write"))
        ).otherwise(F.col("part_id")))

    monkeypatch.setattr(pipeline, "batch_frame", failing)
    t0 = time.perf_counter()
    with pytest.raises(PySparkException, match="batch 0 fails in its write"):
        run_pipeline(spark, source, out, num_parts=PARTS, batch_parts=BATCH)
    assert time.perf_counter() - t0 < IN_FLIGHT_WAIT_S
    assert sorted(built) == [0, BATCH]
    assert table_io.read_manifest(out) == []
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []


def test_batch_jobs_keep_the_callers_job_group_and_properties(
        spark, source, tmp_path, monkeypatch):
    """With two batches in flight, every batch job runs in the caller's job
    group, and every batch sees the caller's local properties."""
    sc = spark.sparkContext
    frame = pipeline.batch_frame
    both = threading.Barrier(2, timeout=IN_FLIGHT_WAIT_S)
    seen = {}

    def in_flight(src, parts, counts):
        seen[parts[0]] = sc.getLocalProperty("caller.note")
        if parts[0] < 2 * BATCH:
            both.wait()  # batches 0 and 1 are in flight together
        return frame(src, parts, counts)

    monkeypatch.setattr(pipeline, "batch_frame", in_flight)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup())
    sc.setJobGroup("caller", "a caller's own job group")
    sc.setLocalProperty("caller.note", "kept")
    try:
        run_pipeline(spark, source, str(tmp_path / "out"), num_parts=PARTS,
                     batch_parts=BATCH)
    finally:
        for key in ("caller.note", "spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert seen == {b: "kept" for b in range(0, PARTS, BATCH)}
    # no job of the run left the group: the batch writes, and the input
    # read's own job from the caller's thread
    assert set(sc.statusTracker().getJobIdsForGroup()) == ungrouped
    assert len(sc.statusTracker().getJobIdsForGroup("caller")) >= PARTS // BATCH


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
    """Rows map to part_ids by num_parts, so a resume with another count
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


def test_resume_against_a_changed_listing_is_refused(spark, tmp_path):
    """Rows map to part_ids by their input file's place in the listing, so
    a resume after an input file was added would skip or duplicate rows:
    it must fail before writing anything, naming the listing."""
    inp = str(tmp_path / "input")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=2)
    out = str(tmp_path / "out")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(table_io, "write_manifest_entry", _killed_after(2))
        with pytest.raises(RuntimeError, match="killed after a batch commit"):
            run_pipeline(spark, inp, out, num_parts=6, batch_parts=2)
    before = table_io.read_manifest(out)
    assert 0 < len(before) < 6

    first = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))[0]
    shutil.copy(os.path.join(inp, first), os.path.join(inp, "part-99999-added.parquet"))
    with pytest.raises(ValueError, match=r"input listing .*3 files.* does not match"):
        run_pipeline(spark, inp, out, num_parts=6, batch_parts=2)
    assert table_io.read_manifest(out) == before


def test_resume_after_the_input_directory_moved(spark, tmp_path):
    """The listing digest is over file names relative to the input's root:
    an unchanged input that moved elsewhere resumes, and the resumed
    output equals a straight run's."""
    inp, moved = str(tmp_path / "input"), str(tmp_path / "moved" / "input")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=2)
    ref_out, out = str(tmp_path / "ref"), str(tmp_path / "out")
    run_pipeline(spark, inp, ref_out, num_parts=6, batch_parts=2)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(table_io, "write_manifest_entry", _killed_after(2))
        with pytest.raises(RuntimeError, match="killed after a batch commit"):
            run_pipeline(spark, inp, out, num_parts=6, batch_parts=2)
    assert 0 < len(table_io.read_manifest(out)) < 6

    os.makedirs(os.path.dirname(moved))
    os.rename(inp, moved)
    assert run_pipeline(spark, moved, out, num_parts=6, batch_parts=2)
    assert _table_fingerprint(spark, out) == _table_fingerprint(spark, ref_out)
    manifest = table_io.read_manifest(out)
    assert _recount(out, 6) == _recount(ref_out, 6) == {
        e["part_id"]: {k: e[k] for k in COUNT_FIELDS} for e in manifest}
    ref_digests = {e["input_digest"] for e in table_io.read_manifest(ref_out)}
    assert {e["input_digest"] for e in manifest} == ref_digests


def test_no_row_is_lost_on_an_input_path_with_a_space_and_percent(
        spark, tmp_path, monkeypatch):
    """Rows match their input file through `_metadata.file_path`, which
    spells the file another way than the listing does (`file:/` against
    `file:///`, escapes kept), and a batch reads its files by name, glob
    characters and all: every row must get its part once. A row whose
    file is not matched must fail its batch, never be dropped."""
    inp = str(tmp_path / "in put 100%")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=3)
    # a file name that, read as a glob, also matches the other files
    first = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))[0]
    os.rename(os.path.join(inp, first), os.path.join(inp, "part-[0]*.parquet"))
    out = str(tmp_path / "out")
    run_pipeline(spark, inp, out, num_parts=6, batch_parts=2)
    assert sum(e["rows_in"] for e in table_io.read_manifest(out)) == 60
    assert _recount(out, 6) == {e["part_id"]: {k: e[k] for k in COUNT_FIELDS}
                                for e in table_io.read_manifest(out)}

    # the listing kept as inputFiles() spells it: no row's file matches
    monkeypatch.setattr(pipeline, "_normalized", lambda path: path)
    with pytest.raises(PySparkException, match="no part range for input file"):
        run_pipeline(spark, inp, str(tmp_path / "unmatched"), num_parts=6, batch_parts=2)
    assert table_io.read_manifest(str(tmp_path / "unmatched")) == []


def test_a_hive_partitioned_input_keeps_its_partition_columns(spark, tmp_path):
    """A batch reads its input files one by one; the `fmt=<value>`
    directories they sit in must still give every row its `fmt`."""
    inp = str(tmp_path / "input")
    build_input_table(spark, 60, seed=SEED, num_partitions=2).write.partitionBy("fmt").parquet(inp)
    out = str(tmp_path / "out")
    run_pipeline(spark, inp, out, num_parts=6, batch_parts=2)

    def fmts(path):
        return sorted(tuple(r) for r in table_io.read_table(spark, path).select("image_id", "fmt").collect())
    assert fmts(out) == fmts(inp)
    assert {f for _, f in fmts(out)} == {"png", "jpeg"}
