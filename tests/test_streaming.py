"""Structured Streaming parity for the batch operators.

The reference has no streaming surface (SURVEY §2.6) and the north rule
mandates batch; the library has no streaming operator of its own. These
tests pin that the batch expressions stay legal under incremental
execution: the windowed event aggregation and the fused caption
transform, each run through readStream (availableNow trigger), give the
batch answer, and an append-mode windowed aggregation drops an event
that arrives below its watermark.
"""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _windowed(df):
    # cast NTZ → TIMESTAMP so the same plan is legal in streaming mode
    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        df.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "cnt", "total_value"
        )
    )


@pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="driver testdata absent"
)
def test_stream_windowed_agg_matches_batch(spark, tmp_path):
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    expected = {
        (r.window_start, r.event_type): (r.cnt, r.total_value)
        for r in _windowed(batch).collect()
    }

    # stream source wants a directory of files: stage the events file alone
    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    (src_dir / "part-0.parquet").write_bytes(
        open(f"{SF_DIR}/events.parquet", "rb").read()
    )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    # watermark bounds state; complete mode emits the full aggregate
    q = (
        _windowed(stream.withColumn("ts", F.col("ts").cast("timestamp"))
                  .withWatermark("ts", "1 day"))
        .writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.cnt, r.total_value)
        for r in spark.sql("select * from win_agg").collect()
    }
    assert got == expected
    assert len(got) > 0


def test_streaming_scrub_pipeline_matches_batch(spark, tmp_path):
    """readStream → fused quality+scrub transform → writeStream parquet:
    the streaming ingest of the image+caption table must produce exactly
    the batch pipeline's rows (transform is stateless, so append mode)."""
    from pii_filter_spark.pipeline import transform
    from pii_filter_spark.sources.synth import gen_pandas

    src = tmp_path / "in"
    src.mkdir()
    pdf = gen_pandas(120, seed=31)
    pdf.iloc[:60].to_parquet(src / "p1.parquet")
    pdf.iloc[60:].to_parquet(src / "p2.parquet")

    batch_df = spark.read.parquet(str(src))
    expected = {
        r.image_id: (r.keep, r.scrubbed_caption, r.scrub_count)
        for r in transform(batch_df).collect()
    }

    out = tmp_path / "out"
    q = (
        transform(
            spark.readStream.schema(batch_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r.image_id: (r.keep, r.scrubbed_caption, r.scrub_count)
        for r in spark.read.parquet(str(out)).collect()
    }
    assert got == expected
    assert len(got) == 120


def test_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed agg: an event arriving BELOW the watermark in
    a later micro-batch must not resurrect or alter its finalized window."""
    import datetime as dt

    import pandas as pd

    t = lambda h, mi: dt.datetime(2024, 1, 1, h, mi)  # noqa: E731
    src = tmp_path / "late_src"
    src.mkdir()

    def _write(name, rows):
        df = pd.DataFrame(rows)
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(src / name)

    # batch 1: two 10:xx events + a 12:00 event that advances the
    # watermark to 11:30
    _write("b1.parquet", {"event_id": [1, 2, 3],
                          "ts": [t(10, 0), t(10, 20), t(12, 0)],
                          "value": [1.0, 1.0, 1.0]})
    # batch 2: on-time event; during this batch the watermark (11:30)
    # finalizes and emits the [10:00,11:00) window
    _write("b2.parquet", {"event_id": [4], "ts": [t(12, 5)],
                          "value": [1.0]})
    # batch 3: a LATE 10:15 event — its window was already emitted and
    # evicted; accepting it would re-emit the window and break append
    # semantics, so the watermark filter must drop it
    _write("b3.parquet", {"event_id": [5], "ts": [t(10, 15)],
                          "value": [1.0]})

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
        .writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from late_out").collect()
    got = {(r.ws, r.cnt) for r in rows}
    # exactly ONE emission of the finalized 10:00 window with the two
    # on-time events; the late event 5 was discarded (no re-emission,
    # no new [10,11) window), and the un-finalized 12:00 window is not
    # emitted in append mode
    assert got == {(t(10, 0), 2)}
    assert len(rows) == 1
