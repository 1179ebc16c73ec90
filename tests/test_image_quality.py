"""LAION-style image-side quality rules — operators/image_quality.py."""

from pii_filter_spark.operators.image_quality import (
    image_quality_filter,
    image_quality_row,
)
from pii_filter_spark.sources.synth import build_input_table, gen_row
from tests.plans import Plan


def test_rule_logic_pure():
    # too small
    assert image_quality_row("a", 16, 40, "png", 2000)[6] is False
    # extreme aspect
    row = image_quality_row("b", 100, 40, "png", 8000)
    assert row[7] is False and row[4] == 2.5
    # blank image: compresses to almost nothing -> density drop
    assert image_quality_row("c", 64, 64, "png", 100)[8] is False
    # corrupt: way more bytes than pixels
    assert image_quality_row("d", 32, 32, "png", 3 * 32 * 32 * 5)[8] is False
    # format whitelist
    assert image_quality_row("e", 40, 40, "webp", 2500)[9] is False
    good = image_quality_row("f", 40, 40, "png", 2500)
    assert good[6:] == (True, True, True, True, True)


def test_degenerate_dims_drop_in_both_paths(spark):
    # w/h == 0 (corrupt crawl metadata) must be an explicit drop, not a
    # null keep (round-3 ADVICE)
    for w, h in ((0, 40), (40, 0), (0, 0), (-3, 40)):
        row = image_quality_row("z", w, h, "png", 1000)
        assert row[4] is None and row[5] is None
        assert row[6:] == (False, False, False, True, False)
    df = spark.createDataFrame(
        [("z0", 0, 40, "png", b"x" * 1000), ("z1", 40, 40, "png", b"x" * 2500)],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {r["image_id"]: r for r in image_quality_filter(df).collect()}
    assert got["z0"]["keep"] is False and got["z0"]["size_ok"] is False
    assert got["z0"]["aspect_ok"] is False and got["z0"]["density_ok"] is False
    assert got["z0"]["aspect"] is None and got["z0"]["bytes_per_px"] is None
    assert got["z1"]["keep"] is True


def test_operator_matches_pure_and_stays_native(spark):
    df = build_input_table(spark, 60, seed=42, num_partitions=4)
    out = image_quality_filter(df)
    # no Python evaluation anywhere in the plan — pure codegen projection
    assert not Plan(out).has("EvalPython")
    got = {r["image_id"]: tuple(r) for r in out.collect()}
    kept = 0
    for i in range(60):
        r = gen_row(42, i)
        exp = image_quality_row(
            r["image_id"], r["w"], r["h"], r["fmt"], len(r["bytes"])
        )
        assert got[r["image_id"]] == exp
        kept += exp[-1]
    # synthetic corpus exercises both outcomes
    assert 0 < kept < 60
