"""Resume-after-kill: identical output + idempotent metrics (FIXTURES.md B3)."""

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


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """(uninterrupted output, killed-then-resumed output, parts done before
    the kill, parts the resume processed)."""
    root = tmp_path_factory.mktemp("ckpt")
    inp = str(root / "input")
    write_input_table(spark, inp, N, seed=SEED, num_partitions=4)

    ref_out = str(root / "ref")
    run_pipeline(spark, inp, ref_out, num_parts=PARTS, batch_parts=BATCH)

    # killed run: dies after 2 of 4 batches, then resumes
    out = str(root / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, inp, out, num_parts=PARTS, batch_parts=BATCH,
                     fail_after_batch=2)
    done_before = set(table_io.completed_part_ids(out))
    processed = run_pipeline(spark, inp, out, num_parts=PARTS, batch_parts=BATCH)
    return ref_out, out, done_before, processed


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
        assert set(e["layer_ms"]) == {"quality", "scrub"}
        assert all(ms >= 0 for ms in e["layer_ms"].values())
    # the synth rows exercise every counter
    assert sum(c["rows_dropped"] for c in recount.values()) > 0
    assert sum(c["rows_kept"] for c in recount.values()) > 0
    assert sum(c["scrub_count"] for c in recount.values()) > 0
    assert len({r for c in recount.values() for r in c["drop_reason_counts"]}) > 1


def test_rerun_on_complete_output_is_noop(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("noop")
    inp = str(root / "input")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=2)
    out = str(root / "out")
    run_pipeline(spark, inp, out, num_parts=4, batch_parts=2)
    fp1 = _table_fingerprint(spark, out)
    assert run_pipeline(spark, inp, out, num_parts=4, batch_parts=2) == []
    assert _table_fingerprint(spark, out) == fp1


def test_resume_with_other_num_parts_is_refused(spark, tmp_path_factory):
    """Rows hash to part_ids by num_parts, so a resume with another count
    would skip or duplicate rows: it must fail before writing anything."""
    root = tmp_path_factory.mktemp("parts")
    inp = str(root / "input")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=2)
    out = str(root / "out")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, inp, out, num_parts=4, batch_parts=2,
                     fail_after_batch=1)
    before = table_io.read_manifest(out)
    assert {e["num_parts"] for e in before} == {4}
    with pytest.raises(ValueError, match=r"num_parts=8 .*num_parts=4"):
        run_pipeline(spark, inp, out, num_parts=8, batch_parts=2)
    assert table_io.read_manifest(out) == before


def test_run_pipeline_leaves_the_session_overwrite_mode(spark, tmp_path):
    """The pipeline sets dynamic partition overwrite on its own writes; the
    caller's session keeps its partitionOverwriteMode, so a later overwrite
    in that session still replaces the whole table."""
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
