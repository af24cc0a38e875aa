"""Session windows in the state store: the faust cleanup-timer /
on_window_close analogue as a native ``F.session_window`` aggregation in
append mode under a watermark. A session emits once, when the watermark
passes its last event plus the gap; ``session_start``/``session_end``
are its first and last event times."""

import datetime as dt
import time

from pyspark.sql import functions as F

from faust_spark.streaming.runner import drain, run_to_memory, stream_parquet

SCHEMA = "user_id long, ts timestamp"
FMT = "yyyy-MM-dd HH:mm:ss"


def T(h, m):
    return dt.datetime(2024, 1, 1, h, m)


def sessions(spark, src: str):
    """Closed 30-minute gap sessions per user over the parquet files at
    ``src``, replayed one file per micro-batch."""
    s = stream_parquet(spark, src, max_files_per_trigger=1)
    return (
        s.withWatermark("ts", "60 seconds")
        .groupBy("user_id", F.session_window("ts", "1800 seconds"))
        .agg(
            F.date_format(F.min("ts"), FMT).alias("session_start"),
            F.date_format(F.max("ts"), FMT).alias("session_end"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .drop("session_window")
    )


def test_session_state_survives_restart(spark, tmp_path):
    """Open sessions recover from the checkpoint: a session opened before
    shutdown closes after restart."""
    src = str(tmp_path / "rsrc")
    ckpt = str(tmp_path / "rckpt")

    def run_once(emitted):
        drain(
            sessions(spark, src)
            .writeStream.foreachBatch(lambda b, i: emitted.extend(b.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt),
            "session restart run",
        )

    # run 1: open a session for user 5; nothing closes yet
    spark.createDataFrame(
        [(5, T(10, 0)), (5, T(10, 3))], SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(src)
    first = []
    run_once(first)
    assert first == []

    # run 2 (after restart): a far-future event advances the watermark —
    # the session opened in run 1 must close from its recovered state
    spark.createDataFrame([(9, T(20, 0))], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    second = []
    run_once(second)
    closed = {(r.user_id, r.session_start, r.cnt) for r in second}
    assert (5, "2024-01-01 10:00:00", 2) in closed
    ends = {(r.user_id, r.session_start): r.session_end for r in second}
    assert ends[(5, "2024-01-01 10:00:00")] == "2024-01-01 10:03:00"


def test_sessions_close_on_watermark_and_gap(spark, tmp_path):
    src = str(tmp_path / "sess_src")

    # batch 0: A has two events, B one
    spark.createDataFrame(
        [(1, T(10, 0)), (1, T(10, 10)), (2, T(10, 5))], SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.2)
    # batch 1: A reappears after a 3h gap → a new session for A, and the
    # advanced watermark closes A's first session and B's session
    spark.createDataFrame([(1, T(13, 0))], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.2)
    # batch 2: far-future event pushes the watermark → closes the rest
    spark.createDataFrame([(9, T(20, 0))], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    rows = run_to_memory(sessions(spark, src), output_mode="append").collect()
    closed = {(r.user_id, r.session_start, r.cnt) for r in rows}
    assert (1, "2024-01-01 10:00:00", 2) in closed   # A session 1
    assert (2, "2024-01-01 10:05:00", 1) in closed   # B via watermark
    assert (1, "2024-01-01 13:00:00", 1) in closed   # A session 2
    # the 20:00 session never closes (watermark stops at 19:59)
    assert all(u != 9 for (u, _, _) in closed)
    # each closed session emits exactly once, spanning first..last event
    assert len(rows) == len(closed) == 3
    ends = {(r.user_id, r.session_start): r.session_end for r in rows}
    assert ends[(1, "2024-01-01 10:00:00")] == "2024-01-01 10:10:00"
