"""Streaming dedup (effectively-once) and native session windows."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.streaming import (
    stream_dedup,
    stream_sessionize,
)

BASE = datetime(2024, 5, 1)


def _mins(m):
    return BASE + timedelta(minutes=m)


def test_stream_dedup_suppresses_replayed_rows(spark, tmp_path):
    """A re-delivered batch (at-least-once upstream) must not duplicate
    downstream rows."""
    rows = [
        ("c1", 0, "u", _mins(0)),
        ("c1", 1, "u", _mins(1)),
        ("c2", 0, "u", _mins(2)),
    ]
    schema = "conv_id string, turn_idx int, role string, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    # two identical files = the same rows delivered twice
    df.coalesce(1).write.mode("append").parquet(in_dir)
    df.coalesce(1).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        stream_dedup(stream, keys=["conv_id", "turn_idx"])
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("select conv_id, turn_idx from dedup_out").collect()
    assert len(out) == 3
    assert {(r["conv_id"], r["turn_idx"]) for r in out} == {
        ("c1", 0), ("c1", 1), ("c2", 0)
    }


def test_stream_sessionize_closed_sessions(spark, tmp_path):
    """session_window merges events within the gap and emits a session once
    the watermark passes its end."""
    rows = [
        # u1 session A: 3 events within 30-min gap
        ("u1", _mins(0)), ("u1", _mins(10)), ("u1", _mins(20)),
        # u1 session B: 2 events, 3 hours later
        ("u1", _mins(180)), ("u1", _mins(185)),
        # watermark driver: a far-future event closes everything above
        ("wm", _mins(60 * 24)),
    ]
    schema = "conv_id string, ts timestamp"
    df = spark.createDataFrame(rows, schema)
    in_dir = str(tmp_path / "in")
    df.coalesce(1).write.parquet(in_dir)

    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        stream_sessionize(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["conv_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sess_out").collect()
    }
    # session end = last event + gap (session_window semantics)
    expect = {
        ("u1", _mins(0), _mins(50), 3),
        ("u1", _mins(180), _mins(215), 2),
    }
    assert expect <= got
    # the watermark-driver session must NOT have been emitted (not closed)
    assert all(k != "wm" for k, *_ in got)


def test_stream_interval_join_matches_batch_range_join(spark, tmp_path):
    """Stream-stream interval join (inner, time-bounded state) must emit
    exactly the pairs the batch range_join produces on the same data."""
    from png_from_pdf_extracter_spark.operators.temporal import range_join_broadcast
    from png_from_pdf_extracter_spark.streaming import stream_interval_join

    clicks = [
        (1, _mins(0), 100), (1, _mins(5), 101), (1, _mins(20), 102),
        (2, _mins(1), 200), (3, _mins(2), 300),
    ]
    errors = [
        (1, _mins(1), 900),   # catches clicks @5 (within 10 min after)
        (2, _mins(0), 901),   # catches click @1
        (4, _mins(0), 902),   # no clicks for key
    ]
    cs = "user_id int, c_ts timestamp, click_id int"
    es = "user_id int, e_ts timestamp, error_id int"
    cdir, edir = str(tmp_path / "c"), str(tmp_path / "e")
    spark.createDataFrame(clicks, cs).coalesce(1).write.parquet(cdir)
    spark.createDataFrame(errors, es).coalesce(1).write.parquet(edir)

    joined = stream_interval_join(
        spark.readStream.schema(cs).parquet(cdir),
        spark.readStream.schema(es).parquet(edir),
        "user_id", "c_ts", "e_ts", window_seconds=600,
    )
    q = (
        joined.select("user_id", "click_id", "error_id")
        .writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["click_id"], r["error_id"])
        for r in spark.sql("select * from ssj_out").collect()
    }

    iv = spark.createDataFrame(errors, es).select(
        "user_id",
        F.col("e_ts").alias("w_start"),
        (F.col("e_ts") + F.expr("INTERVAL 600 SECONDS")).alias("w_end"),
        "error_id",
    )
    want = {
        (r["user_id"], r["click_id"], r["error_id"])
        for r in range_join_broadcast(
            spark.createDataFrame(clicks, cs), iv,
            ["user_id"], "c_ts", "w_start", "w_end",
        ).collect()
    }
    assert got == want
    assert want == {(1, 101, 900), (2, 200, 901)}


def test_stream_interval_join_rejects_bad_window(spark):
    from png_from_pdf_extracter_spark.streaming import stream_interval_join

    df = spark.readStream.format("rate").load()
    with pytest.raises(ValueError):
        stream_interval_join(df, df, "value", "timestamp", "timestamp", 0)


def test_stream_interval_join_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer: matched pairs emit like inner; an unmatched left row
    emits null-padded only after the watermark passes its join horizon
    (flushed here by late events on both streams); bad modes rejected."""
    from png_from_pdf_extracter_spark.streaming import stream_interval_join

    cs = "user_id int, c_ts timestamp, click_id int"
    es = "user_id int, e_ts timestamp, error_id int"
    cdir, edir = str(tmp_path / "c"), str(tmp_path / "e")
    # key 1: matched; key 5: no error ever -> must surface as outer row
    spark.createDataFrame(
        [(1, _mins(5), 101), (5, _mins(0), 500)], cs
    ).coalesce(1).write.parquet(cdir)
    spark.createDataFrame(
        [(1, _mins(1), 900)], es
    ).coalesce(1).write.parquet(edir)

    def drain():
        joined = stream_interval_join(
            spark.readStream.schema(cs).parquet(cdir),
            spark.readStream.schema(es).parquet(edir),
            "user_id", "c_ts", "e_ts", window_seconds=600,
            how="left_outer",
        )
        # parquet sink: the memory sink cannot recover from a checkpoint,
        # and the outer-row flush NEEDS the second (recovered) run
        q = (
            joined.select("user_id", "click_id", "error_id")
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    # push the watermark far past key 5's horizon on BOTH streams
    # (the query watermark is the min across inputs)
    spark.createDataFrame(
        [(9, _mins(600), 999)], cs
    ).coalesce(1).write.mode("append").parquet(cdir)
    spark.createDataFrame(
        [(9, _mins(600), 998)], es
    ).coalesce(1).write.mode("append").parquet(edir)
    drain()

    got = {
        (r["user_id"], r["click_id"], r["error_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert (1, 101, 900) in got            # the inner match
    assert (5, 500, None) in got           # the flushed unmatched left row

    with pytest.raises(ValueError, match="inner/left_outer"):
        stream_interval_join(
            spark.readStream.schema(cs).parquet(cdir),
            spark.readStream.schema(es).parquet(edir),
            "user_id", "c_ts", "e_ts", how="full_outer",
        )
