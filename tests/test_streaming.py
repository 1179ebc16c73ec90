"""Structured Streaming ingestion parity.

The reference has no streaming surface (SURVEY §2.6) and the north rule
mandates batch, but the engine's event-aggregation shapes must also hold
under incremental execution: the SAME windowed aggregation run through
readStream (availableNow trigger, event-time watermark) must produce the
batch answer. This pins the operators to expressions that are legal in
both execution modes (no batch-only constructs in the shared path).
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


def test_stateful_distinct_across_microbatches(spark, tmp_path):
    """applyInPandasWithState dedup: a key re-sent in a later micro-batch
    must not be emitted again."""
    import pandas as pd

    from pii_filter_spark.streaming import stateful_distinct

    src = tmp_path / "src"
    src.mkdir()
    # batch 1: ids 0..9 ; batch 2: ids 5..14 (5 overlaps)
    pd.DataFrame({"image_id": [f"i{k}" for k in range(10)],
                  "v": list(range(10))}).to_parquet(src / "b1.parquet")
    pd.DataFrame({"image_id": [f"i{k}" for k in range(5, 15)],
                  "v": list(range(100, 110))}).to_parquet(src / "b2.parquet")

    stream = (
        spark.readStream.schema("image_id string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stateful_distinct(stream, "image_id")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_out").collect()
    ids = [r.image_id for r in rows]
    assert sorted(ids) == sorted({f"i{k}" for k in range(15)})
    assert len(ids) == len(set(ids)) == 15


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


def test_sessionize_stream_cross_batch_continuity(spark, tmp_path):
    """Streaming gap-sessionization must MERGE a batch-2 event into the
    open batch-1 session (cross-batch state), and close sessions only
    when a later event arrives past the gap."""
    import datetime as dt

    import pandas as pd

    from pii_filter_spark.streaming.sessions import sessionize_stream

    t0 = dt.datetime(2024, 1, 1, 8, 0, 0)
    m = dt.timedelta(minutes=1)
    src = tmp_path / "sess_src"
    src.mkdir()
    # user 1: two events in batch 1 (one session), batch 2 event 7h later
    #         closes it and opens a new (unemitted) session
    def _write(name, rows):
        df = pd.DataFrame(rows)
        df["ts"] = df["ts"].astype("datetime64[us]")  # Spark-readable TIMESTAMP(MICROS)
        df.to_parquet(src / name)

    _write("b1.parquet", {
        "event_id": [1, 2, 10],
        "user_id": [1, 1, 2],
        "ts": [t0, t0 + 10 * m, t0],
        "value": [1.0, 2.0, 5.0],
    })
    _write("b2.parquet", {
        "event_id": [3, 11, 12],
        "user_id": [1, 2, 2],
        "ts": [t0 + 7 * 60 * m, t0 + 10 * m, t0 + 8 * 60 * m],
        "value": [4.0, 7.0, 9.0],
    })

    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream(stream, gap_minutes=360, flush_timeout_ms=0)
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
        for r in spark.sql("select * from sess_out").collect()
    }
    # closed-by-a-later-event sessions MUST be present with exact values:
    # user 1's batch-1 session, and user 2's session whose +10min event
    # arrived in batch 2 and MERGED into the open batch-1 state
    assert (1, t0, t0 + 10 * m, 2, 3.0) in got
    assert (2, t0, t0 + 10 * m, 2, 12.0) in got
    # with the idle flush disabled the two still-open sessions are NOT
    # emitted — output is exactly the closed pair
    assert got == {
        (1, t0, t0 + 10 * m, 2, 3.0),
        (2, t0, t0 + 10 * m, 2, 12.0),
    }


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
