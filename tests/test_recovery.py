"""Checkpoint recovery: state must survive a query restart.

The reference rebuilds tables by replaying changelog topics into RocksDB on
rebalance (faust/tables/recovery.py behavior); Spark's equivalent is
checkpoint resume. This test stops a stateful query, adds new source data,
restarts from the same checkpoint, and asserts the carried state produces
exact cumulative counts — the no-gaps/no-dups invariant of the reference's
stress suite, across a restart.
"""

import os
import uuid

import pytest

from pyspark.sql import functions as F

from faust_spark.streaming.runner import drain
from faust_spark.streaming.state import stateful_counter


def _run(spark, src_dir, ckpt):
    """Run the counter to completion; return rows emitted this run.

    foreachBatch (not the memory sink) because only it supports resuming
    from a checkpoint; it executes on the driver so a plain list collects.
    """
    schema = spark.read.parquet(src_dir).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    counted = stateful_counter(s.groupBy("user_id"), "user_id", sum_col="value")
    emitted = []

    def sink(batch_df, batch_id):
        emitted.extend(batch_df.collect())

    drain(
        counted.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt),
        "counter replay",
    )
    return emitted


def test_state_survives_restart(spark, sf_dir, tmp_path):
    from faust_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    events.filter(F.col("event_id") < 500).coalesce(2).write.mode(
        "overwrite"
    ).parquet(src)
    run1 = {r.user_id: r.cnt for r in _run(spark, src, ckpt)}
    assert sum(run1.values()) == 500

    # new data arrives while the query is down
    events.filter(F.col("event_id") >= 500).coalesce(2).write.mode(
        "append"
    ).parquet(src)
    run2 = {r.user_id: (r.cnt, r.total) for r in _run(spark, src, ckpt)}

    totals = {
        r.user_id: (r.c, r.t)
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("t"),
        )
        .collect()
    }
    # every key updated after restart must land exactly on the full count
    # and decimal sum: state carried over (no gaps), old rows not
    # re-processed (no dups)
    assert run2, "restart produced no updates"
    for uid, got in run2.items():
        assert got == totals[uid], f"user {uid}: {got} != {totals[uid]}"
