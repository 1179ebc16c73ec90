"""Small-file compaction: bin-pack planner + snapshot rewrite."""

from pii_filter_spark.operators.compaction import (
    TARGET_BYTES,
    compact_snapshot,
    compaction_plan,
)
from pii_filter_spark.sources import table_io


def _twin(rows, target):
    """Single-pass reference: first-fit in (size desc, id) order."""
    out, cum = {}, 0
    for i, s in sorted(rows, key=lambda r: (-r[1], r[0])):
        out[i] = (s, cum, cum // target)
        cum += s
    return out


def test_plan_matches_single_window_twin(spark):
    rows = [(i, (i * 37) % 900 + 10) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id: long, size_bytes: long")
    got = {
        r["doc_id"]: (r["size_bytes"], r["cum_before"], r["compaction_group"])
        for r in compaction_plan(df).collect()
    }
    assert len({g for _, _, g in got.values()}) > 1
    assert got == _twin(rows, TARGET_BYTES)


def test_plan_groups_are_target_sized(spark):
    rows = [(i, TARGET_BYTES // 64) for i in range(5 * 64)]
    df = spark.createDataFrame(rows, "doc_id: long, size_bytes: long")
    out = compaction_plan(df).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r["compaction_group"], 0)
        by_grp[r["compaction_group"]] += r["size_bytes"]
    # 5 * 64 files of TARGET_BYTES / 64 -> exactly 5 full groups
    assert by_grp == {g: TARGET_BYTES for g in range(5)}


def test_plan_empty_input(spark):
    df = spark.createDataFrame([], "doc_id: long, size_bytes: long")
    assert compaction_plan(df).collect() == []


def test_compact_snapshot_rewrites_small_files(spark, tmp_path):
    table = str(tmp_path / "tbl")
    df = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "repeat('x', 64) AS payload"
    )
    # commit as MANY tiny files (the small-file problem)
    s1 = table_io.snapshot_write(df.repartition(40), table)
    before = table_io.read_table(spark, table).orderBy("doc_id").collect()

    res = compact_snapshot(spark, table, target_bytes=10**9)
    assert res["files_before"] == 40
    assert res["files_after"] < res["files_before"]
    assert res["rows"] == 2000

    # rows identical after the rewrite
    after = table_io.read_table(spark, table).orderBy("doc_id").collect()
    assert after == before
    # time travel: the pre-compaction snapshot still reads fine
    old = table_io.read_table(spark, table, snapshot_id=s1)
    assert old.count() == 2000


def test_plan_empty_input_preserves_string_id_type(spark):
    df = spark.createDataFrame([], "doc_id: string, size_bytes: long")
    out = compaction_plan(df)
    assert out.collect() == []
    assert out.schema["doc_id"].dataType.simpleString() == "string"
