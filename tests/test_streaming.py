"""Streaming semantics: batch parity, window close, multi-batch state.

Mirrors the reference's functional-test style (deliver events → assert)
and its stress-suite invariant (no gaps/dups in per-key counters across
batches, t/stress/tests/tables/app.py:96-150 behavior spec).
"""

import os
import re
import time
import uuid

import pytest

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from faust_spark.streaming.runner import (
    drain,
    run_to_memory,
    state_partitions,
    stream_parquet,
)
from faust_spark.streaming.state import (
    reduce_by_key,
    stateful_counter,
    stateful_counts,
)


@pytest.fixture(scope="module")
def multi_file_events(spark, sf_dir, tmp_path_factory):
    """Fixture events re-written as 4 files → 4 real micro-batches."""
    d = str(tmp_path_factory.mktemp("events_parts"))
    from faust_spark.catalog import load_table

    load_table(spark, sf_dir, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_streaming_counts_match_batch(spark, multi_file_events):
    batch = spark.read.parquet(multi_file_events)
    expected = {
        r.user_id: r.cnt
        for r in batch.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    s = stream_parquet(spark, multi_file_events, max_files_per_trigger=1)
    agg = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    out = run_to_memory(agg, output_mode="complete")
    got = {r.user_id: r.cnt for r in out.collect()}
    assert got == expected


@pytest.mark.parametrize("name", ["events.parquet", "e[v]{1,2}*?!^.parquet"])
def test_single_file_stream_reads_every_row_leaves_no_temp_dir(
    spark, tmp_path, name
):
    """One parquet file streams alone: every row arrives, glob
    metacharacters in its directory and name stay literal, no sibling
    file or directory is read, and no scratch dir is left behind in the
    temp dir."""
    import glob
    import shutil
    import tempfile

    d = tmp_path / "d!^[x]"
    stage = str(tmp_path / "stage")
    spark.range(1000).coalesce(1).write.parquet(stage)
    (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
    d.mkdir()
    shutil.copy(part, d / name)
    spark.range(5).coalesce(1).write.parquet(str(tmp_path / "decoy"))
    (decoy,) = glob.glob(str(tmp_path / "decoy" / "part-*.parquet"))
    # the unescaped pattern of the second name would match this file
    shutil.copy(decoy, d / "ev1x!^.parquet")
    # the source lists the file's directory: neither a subdirectory
    # holding a same-named file nor a sibling parquet dir is read
    (d / "sub").mkdir()
    shutil.copy(decoy, d / "sub" / name)
    spark.range(5).write.parquet(str(d / "more.parquet"))
    before = set(os.listdir(tempfile.gettempdir()))
    s = stream_parquet(spark, str(d / name), max_files_per_trigger=1)
    out = run_to_memory(s, output_mode="append").collect()
    assert sorted(r.id for r in out) == list(range(1000))
    assert set(os.listdir(tempfile.gettempdir())) <= before


def test_stateful_counter_multibatch_no_gaps_no_dups(
    spark, multi_file_events
):
    """Across 4 micro-batches, per-key cumulative counts must be strictly
    increasing (no dups) and end exactly at the batch total (no gaps)."""
    s = stream_parquet(spark, multi_file_events, max_files_per_trigger=1)
    out = run_to_memory(
        stateful_counter(s.groupBy("user_id"), "user_id"),
        output_mode="update",
    )
    batch = spark.read.parquet(multi_file_events)
    totals = {
        r.user_id: r.c
        for r in batch.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    per_key: dict[int, list[int]] = {}
    for r in out.collect():
        per_key.setdefault(r.user_id, []).append(r.cnt)
    for uid, counts in per_key.items():
        assert counts == sorted(set(counts)), f"dup/regress for {uid}"
        assert counts[-1] == totals[uid], f"gap for {uid}"


def test_stateful_counts_composite_key_matches_batch(
    spark, multi_file_events
):
    """Composite-key state (the windowed-Table shape table[(user, day)])
    across 4 micro-batches lands exactly on the batch rollup."""
    s = stream_parquet(
        spark, multi_file_events, max_files_per_trigger=1
    ).withColumn("day", F.to_date("ts"))
    out = run_to_memory(
        stateful_counts(s.groupBy("user_id", "day"), ["user_id", "day"]),
        output_mode="update",
    )
    final = {
        (r.user_id, r.day): r.cnt
        for r in out.groupBy("user_id", "day")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    }
    batch = spark.read.parquet(multi_file_events).withColumn(
        "day", F.to_date("ts")
    )
    expected = {
        (r.user_id, r.day): r.cnt
        for r in batch.groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert final == expected


def test_stateful_counter_sum_matches_batch_decimal_sum(
    spark, multi_file_events
):
    """The streamed decimal sum, accumulated over 4 micro-batches, equals
    the batch ``CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)`` bit
    for bit (the oracle's expression), and the count equals COUNT(*)."""
    s = stream_parquet(spark, multi_file_events, max_files_per_trigger=1)
    out = run_to_memory(
        stateful_counter(s.groupBy("user_id"), "user_id", sum_col="value"),
        output_mode="update",
    )
    got = {
        r.user_id: (r.cnt, r.total)
        for r in out.groupBy("user_id")
        .agg(F.max("cnt").alias("cnt"), F.max("total").alias("total"))
        .collect()
    }
    expected = {
        r.user_id: (r.cnt, r.total)
        for r in spark.sql(
            "SELECT user_id, COUNT(*) AS cnt, "
            "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total "
            f"FROM parquet.`{multi_file_events}` GROUP BY user_id"
        ).collect()
    }
    assert got == expected


def _executed_plan(df) -> str:
    """Physical plan of the last micro-batch of ``df`` run to completion."""
    name = f"plan_{uuid.uuid4().hex[:8]}"
    q = drain(
        df.writeStream.format("memory").queryName(name).outputMode("update"),
        name,
    )
    return q._jsq.explainInternal(False)


@pytest.mark.parametrize("shape", ["counter", "counts"])
def test_counters_run_in_the_native_state_store(
    spark, multi_file_events, shape
):
    """The counters are native aggregations over the state store: a
    StateStoreSave and no Python-worker node (FlatMapGroupsInPandasWithState,
    ArrowEvalPython, MapInArrow, ...) in the executed plan."""
    s = stream_parquet(spark, multi_file_events, max_files_per_trigger=2)
    if shape == "counter":
        df = stateful_counter(s.groupBy("user_id"), "user_id", sum_col="value")
    else:
        s = s.withColumn("day", F.to_date("ts"))
        df = stateful_counts(s.groupBy("user_id", "day"), ["user_id", "day"])
    plan = _executed_plan(df)
    assert "StateStoreSave" in plan
    assert not re.search(r"Python|Pandas|InArrow", plan), plan


def test_drain_timeout_names_the_run_and_stops_the_query(
    spark, multi_file_events
):
    """A run still going at the timeout raises TimeoutError naming its
    label, and the query is stopped, not left running."""
    writer = stream_parquet(spark, multi_file_events).writeStream.foreachBatch(
        lambda df, bid: time.sleep(3)
    )
    with pytest.raises(TimeoutError, match="slow sink run"):
        drain(writer, "slow sink run", timeout_sec=1)
    assert spark.streams.active == []


def test_drain_propagates_the_query_failure(spark, multi_file_events):
    """A sink that raises fails the drain with the streaming query's
    exception, and no query is left active."""

    def boom(df, bid):
        raise ValueError("sink exploded")

    writer = stream_parquet(spark, multi_file_events).writeStream.foreachBatch(
        boom
    )
    with pytest.raises(StreamingQueryException, match="sink exploded"):
        drain(writer, "failing sink run")
    assert spark.streams.active == []


def test_state_partitions_rule():
    """One state store per 12,500 events, at least 4, at most the cap."""
    assert state_partitions(0, 32) == 4
    assert state_partitions(62_499, 32) == 4
    assert state_partitions(100_000, 32) == 8
    assert state_partitions(1_000_000, 200) == 80
    assert state_partitions(10_000_000, 32) == 32
    assert state_partitions(0, 2) == 2  # the cap (session width) wins


def test_append_mode_emits_only_closed_windows(spark, multi_file_events):
    s = stream_parquet(spark, multi_file_events)
    agg = (
        s.withWatermark("ts", "600 seconds")
        .groupBy(F.window("ts", "3600 seconds"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    out = run_to_memory(agg, output_mode="append").collect()
    batch = spark.read.parquet(multi_file_events)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    for r in out:
        assert r.window.end <= max_ts, "emitted a window not yet closed"


def test_stream_stream_join_with_watermarks(spark, multi_file_events):
    """Real stream-stream equi-join (the operator the reference stubs,
    faust/joins.py behavior): purchases ⋈ clicks on user within the
    watermark bound, through the streaming engine."""
    s1 = (
        stream_parquet(spark, multi_file_events)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    s2 = (
        stream_parquet(spark, multi_file_events)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    joined = s1.join(
        s2,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    out = run_to_memory(joined, output_mode="append")
    batch = spark.read.parquet(multi_file_events)
    p = batch.filter("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    c = batch.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    expected = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).count()
    assert out.count() == expected


def test_salted_join_matches_plain(spark, multi_file_events):
    from faust_spark.joins import salted_join

    batch = spark.read.parquet(multi_file_events).select("user_id", "value")
    dim = (
        batch.groupBy("user_id")
        .agg(F.count("*").alias("user_total"))
    )
    plain = batch.join(dim, "user_id").count()
    salted = salted_join(batch, dim, "user_id", salt_buckets=8).count()
    assert salted == plain


def test_reduce_by_key_custom_reducer(spark, multi_file_events):
    s = stream_parquet(spark, multi_file_events, max_files_per_trigger=2)
    out = run_to_memory(
        reduce_by_key(
            s.groupBy("user_id"), "value", max, key_name="user_id",
            alias="mx", initial=float("-inf"),
        ),
        output_mode="update",
    )
    final = out.groupBy("user_id").agg(F.max("mx").alias("mx"))
    batch = spark.read.parquet(multi_file_events)
    expected = {
        r.user_id: r.mx
        for r in batch.groupBy("user_id").agg(F.max("value").alias("mx")).collect()
    }
    got = {r.user_id: r.mx for r in final.collect()}
    assert got == expected


def test_take_buffers_size_and_time_flush(spark, tmp_path):
    """Stream.take(max_, within=) parity (faust/streams.py:303-316,
    t/functional/test_streams.py::test_take): buffers hold at most max_
    rows; a partial buffer is flushed at the trigger boundary instead of
    waiting for max_ values; nothing is lost or duplicated."""
    from faust_spark import App
    from faust_spark.catalog import load_table

    src = str(tmp_path / "src")
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    # 4 files -> maxFilesPerTrigger=1 forces 4 micro-batches (4 time flushes)
    events.repartition(4).write.mode("overwrite").parquet(src)
    n_src = spark.read.parquet(src).count()

    stream = stream_parquet(spark, src, max_files_per_trigger=1)
    app = App("take-within", spark=spark)
    buffers = app.stream(stream).take(7, within=None)

    assert all(len(b) <= 7 for b in buffers)
    assert sum(len(b) for b in buffers) == n_src
    # each micro-batch of ~25 rows ends in a partial (time-style) flush,
    # so partial buffers must appear more than once
    assert sum(1 for b in buffers if len(b) < 7) >= 2
    ids = [r.event_id for b in buffers for r in b]
    assert len(set(ids)) == n_src


def test_take_buffers_processing_time_trigger(spark, tmp_path):
    """The within= clock path: processingTime trigger flushes the partial
    buffer at the cadence boundary while the query keeps running."""
    from faust_spark.catalog import load_table
    from faust_spark.streaming.runner import take_buffers

    src = str(tmp_path / "src")
    load_table(spark, "/root/testdata/sf0.001", "events").limit(40).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    buffers = take_buffers(
        stream_parquet(spark, src), max_=9, within=1.0, timeout_sec=5.0
    )
    assert sum(len(b) for b in buffers) == 40
    assert all(len(b) <= 9 for b in buffers)
    assert any(len(b) < 9 for b in buffers)  # 40 % 9 != 0 → time flush


def test_stream_left_outer_join_emits_closed_outer_rows(spark):
    """Left-outer stream-stream join: matched rows emit immediately;
    null-extended rows only for purchases past the final watermark —
    never inside the last watermark hour."""
    import datetime
    import importlib

    from pyspark.sql import functions as F

    entry = importlib.import_module("__spark_entry__")
    sf = "/root/testdata/sf0.001"
    out = entry.queries()["stream_left_outer_join"](spark, sf).cache()
    nulls = out.filter("c_ts IS NULL")
    assert nulls.count() > 0  # outer semantics actually exercised
    from faust_spark.catalog import load_table

    e = load_table(spark, sf, "events")
    maxp = e.filter("event_type='purchase'").agg(F.max("ts")).first()[0]
    maxc = e.filter("event_type='click'").agg(F.max("ts")).first()[0]
    wm = min(maxp, maxc) - datetime.timedelta(hours=1)
    assert nulls.agg(F.max("p_ts")).first()[0] < wm
