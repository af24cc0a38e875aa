"""Effectively-once file sink: batch replay must not duplicate rows."""

from pyspark.sql import functions as F

from faust_spark.streaming.runner import (
    exactly_once_parquet_sink,
    stream_parquet,
)


def test_replayed_batch_overwrites_not_duplicates(spark, sf_dir, tmp_path):
    from faust_spark.catalog import load_table

    src = str(tmp_path / "src")
    load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    ).repartition(2).write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    s = stream_parquet(spark, src, max_files_per_trigger=1)
    exactly_once_parquet_sink(s, out, ckpt)
    n_src = spark.read.parquet(src).count()
    first = spark.read.parquet(out)
    assert first.count() == n_src
    assert first.select("event_id").distinct().count() == n_src

    # simulate a retried batch: re-write batch 0's content with the same
    # batch id — dynamic partition overwrite must replace, not append
    batch0 = first.filter(F.col("__batch_id") == 0).drop("__batch_id")
    (
        batch0.withColumn("__batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(out)
    )
    again = spark.read.parquet(out)
    assert again.count() == n_src  # no duplicates after replay
    assert again.select("event_id").distinct().count() == n_src


def test_rocksdb_state_backend(spark, sf_dir, tmp_path):
    """Stateful aggregation on the RocksDB state store provider with
    changelog checkpointing (large streaming state, the reference's
    RocksDB table store role): both are runtime confs, set for this
    query only."""
    from faust_spark.catalog import load_table
    from faust_spark.session import conf_set
    from faust_spark.streaming.runner import run_to_memory, shuffle_partitions

    key = "spark.sql.streaming.stateStore.providerClass"
    provider = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    changelog = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    with conf_set(spark, key, provider), conf_set(
        spark, changelog, "true"
    ), shuffle_partitions(spark, 4):
        assert "RocksDB" in spark.conf.get(key)
        d = str(tmp_path / "ev")
        load_table(spark, sf_dir, "events").write.parquet(d)
        s = stream_parquet(spark, d)
        agg = s.groupBy("user_id").agg(F.count("*").alias("c"))
        out = run_to_memory(agg, output_mode="complete")
        assert out.count() == 15


def test_transactional_sink_skips_redelivered_batches(spark, tmp_path):
    """The commit-log wrapper delivers each batch id to a NON-idempotent
    sink exactly once, across crash-replay (same checkpoint, sink died
    after write but before Spark's own commit) — the generic analogue of
    the reference's Kafka-transaction guarantee."""
    from faust_spark.catalog import load_table
    from faust_spark.streaming.runner import (
        committed_batch_sink,
        stream_parquet,
        transactional_foreach_batch,
    )

    src = str(tmp_path / "src")
    out = tmp_path / "delivered.txt"
    commit_dir = str(tmp_path / "commits")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, "/root/testdata/sf0.001", "events").limit(50)
    events.repartition(2).write.mode("overwrite").parquet(src)
    n_src = spark.read.parquet(src).count()

    def sink(bdf, bid):  # append-only file: duplicates WOULD show up
        with open(out, "a") as f:
            for r in bdf.collect():
                f.write(f"{r.event_id}\n")

    stream = stream_parquet(spark, src, max_files_per_trigger=1)
    transactional_foreach_batch(
        stream, committed_batch_sink(sink, commit_dir, ckpt), ckpt
    )
    first = out.read_text().splitlines()
    assert len(first) == n_src and len(set(first)) == n_src

    # crash-replay simulation: Spark re-delivers an already-sunk batch id
    # (checkpoint lost the commit, the sink-side marker survived) — the
    # REAL wrapper must treat it as a no-op
    import os as _os

    assert _os.path.exists(commit_dir + "/0.committed")
    calls = []

    def sink2(bdf, bid):
        calls.append(bid)
        sink(bdf, bid)

    wrapped = committed_batch_sink(sink2, commit_dir, checkpoint=ckpt)
    wrapped(spark.read.parquet(src).limit(5), 0)  # re-delivery → skipped
    assert calls == []
    assert out.read_text().splitlines() == first  # no duplicates appended
    next_bid = 1 + max(
        int(f.split(".")[0]) for f in _os.listdir(commit_dir)
    )
    wrapped(spark.read.parquet(src).limit(3), next_bid)  # new id → delivered
    assert calls == [next_bid]
    assert len(out.read_text().splitlines()) == len(first) + 3


def test_reset_checkpoint_delivers_new_batches(spark, tmp_path):
    """The commit log outlives a deleted checkpoint: the new lineage's
    batch 0 must reach the sink, not be skipped as a re-delivery of the
    old lineage's batch 0 (silent data loss)."""
    import shutil

    from faust_spark.streaming.runner import (
        committed_batch_sink,
        transactional_foreach_batch,
    )

    src = str(tmp_path / "src")
    commit_dir = str(tmp_path / "commits")
    ckpt = str(tmp_path / "ckpt")
    seen: list = []

    def sink(bdf, bid):
        seen.extend((bid, r.id) for r in bdf.collect())

    def drain_src():
        stream = stream_parquet(spark, src)
        sunk = committed_batch_sink(sink, commit_dir, ckpt)
        transactional_foreach_batch(stream, sunk, ckpt)

    spark.range(3).write.parquet(src)
    drain_src()
    assert sorted(seen) == [(0, 0), (0, 1), (0, 2)]

    shutil.rmtree(ckpt)  # checkpoint reset; commit_dir kept
    spark.range(100, 103).write.mode("overwrite").parquet(src)
    drain_src()
    assert sorted(seen) == [
        (0, 0), (0, 1), (0, 2), (0, 100), (0, 101), (0, 102)
    ]
