"""Streaming LiveCheck audit (streaming/livecheck_audit.py): each
tracked execution decided exactly once — PASS/FAIL on completion,
TIMEOUT via event-time timer — with state recovered from the
checkpoint across restarts."""

import pytest
import datetime as dt
import time

from faust_spark.streaming.livecheck_audit import (
    audit_state_partitions,
    audit_updates,
)
from faust_spark.streaming.runner import drain, stream_parquet

SCHEMA = (
    "test_id string, case_name string, kind string, "
    "signal_name string, ts timestamp, expires timestamp"
)
CASES = {"flow": ["a", "b"]}


def T(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def _run(spark, src, ckpt, emitted, require_order=True):
    s = stream_parquet(spark, src, max_files_per_trigger=1).withWatermark(
        "ts", "1 second"
    )
    drain(
        audit_updates(
            s.groupBy("test_id", "case_name"),
            CASES,
            require_order=require_order,
        )
        .writeStream.foreachBatch(lambda b, i: emitted.extend(b.collect()))
        .outputMode("update")
        .option("checkpointLocation", ckpt),
        "audit replay",
    )


@pytest.mark.slow
def test_audit_state_partitions_rule():
    """One state-store partition per 300 audit rows, clamped to [8, 32]
    (sf0.01 lands on 8, sf0.1's 7.5k rows on 25)."""
    assert audit_state_partitions(0) == 8
    assert audit_state_partitions(2_699) == 8
    assert audit_state_partitions(7_500) == 25
    assert audit_state_partitions(9_600) == 32
    assert audit_state_partitions(10**9) == 32


def test_decisions_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    # batch 0: two executions open; t1 gets its first signal
    spark.createDataFrame(
        [
            ("t1", "flow", "exec", None, T(10), T(12)),
            ("t2", "flow", "exec", None, T(10), T(12)),
            ("t3", "flow", "exec", None, T(10), T(12)),
            ("t1", "flow", "sig", "a", T(10, 10), None),
            # t3's signals arrive inverted: b then a
            ("t3", "flow", "sig", "b", T(10, 5), None),
            ("t1", "flow", "sig", "zzz", T(10, 1), None),  # unregistered
        ],
        SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.2)
    # batch 1: t1 completes (PASS); t3 completes disordered (FAIL);
    # t2 stays pending
    spark.createDataFrame(
        [
            ("t1", "flow", "sig", "b", T(10, 20), None),
            ("t1", "flow", "sig", "a", T(10, 30), None),  # dup: ignored
            ("t3", "flow", "sig", "a", T(10, 15), None),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)
    # batch 2: sentinel advances the watermark past every deadline —
    # t2 must TIMEOUT via its recovered event-time timer
    spark.createDataFrame(
        [("__wm__", "__none__", "sig", None, T(23), None)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)

    emitted = []
    _run(spark, src, ckpt, emitted)
    got = {r.test_id: r for r in emitted}
    assert got["t1"].state == "PASS"
    assert got["t1"].runtime_secs == 1200.0  # first 'b', dup 'a' ignored
    assert got["t3"].state == "FAIL" and got["t3"].n_seen == 2
    assert got["t2"].state == "TIMEOUT" and got["t2"].n_seen == 0
    assert "__wm__" not in got
    assert len(emitted) == 3  # each execution decided exactly once


@pytest.mark.slow
def test_timer_survives_restart(spark, tmp_path):
    src = str(tmp_path / "rsrc")
    ckpt = str(tmp_path / "rckpt")

    spark.createDataFrame(
        [("t1", "flow", "exec", None, T(10), T(11))], SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(src)
    first = []
    _run(spark, src, ckpt, first)
    assert first == []  # pending, timer armed at 11:00

    spark.createDataFrame(
        [("__wm__", "__none__", "sig", None, T(23), None)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    second = []
    _run(spark, src, ckpt, second)
    assert [(r.test_id, r.state) for r in second] == [("t1", "TIMEOUT")]


@pytest.mark.slow
def test_signal_before_execution_and_late_deadline(spark, tmp_path):
    """Signals held for a not-yet-seen execution row; an execution
    arriving with its deadline already behind the watermark is decided
    immediately (no un-armable timer)."""
    src = str(tmp_path / "osrc")
    ckpt = str(tmp_path / "ockpt")

    # batch 0: signals only — no execution yet
    spark.createDataFrame(
        [
            ("t1", "flow", "sig", "a", T(10, 5), None),
            ("t1", "flow", "sig", "b", T(10, 10), None),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.2)
    # batch 1: watermark moves far ahead; then the executions arrive
    # (fresh event time — rows older than the watermark would be
    # dropped as late data, the standard stateful-op contract) with
    # deadlines already in the past: t1 completed in time (PASS
    # decided on arrival), t9 saw nothing (immediate TIMEOUT — a timer
    # at a deadline behind the watermark cannot be armed)
    spark.createDataFrame(
        [("__wm__", "__none__", "sig", None, T(20), None)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)
    spark.createDataFrame(
        [
            ("t1", "flow", "exec", None, T(20, 30), T(12)),
            ("t9", "flow", "exec", None, T(20, 30), T(12)),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)

    emitted = []
    _run(spark, src, ckpt, emitted)
    got = {r.test_id: r.state for r in emitted}
    assert got == {"t1": "PASS", "t9": "TIMEOUT"}


@pytest.mark.slow
def test_streaming_equals_batch_evaluator_random(spark, tmp_path):
    """Property: on a random execution/signal log replayed time-ordered
    in random batch splits, the streaming auditor's decided set equals
    the batch evaluator at an as_of past every deadline (INIT rows
    excluded — pending IS the streaming state)."""
    import random

    from faust_spark.livecheck import evaluate_executions

    rng = random.Random(31)
    base = dt.datetime(2024, 1, 1)
    execs, sigs, rows = [], [], []
    for i in range(40):
        tid = f"t{i}"
        ts = base + dt.timedelta(minutes=rng.randint(0, 600))
        ttl = dt.timedelta(minutes=rng.randint(10, 120))
        execs.append((tid, "flow", ts, ts + ttl))
        rows.append((tid, "flow", "exec", None, ts, ts + ttl))
        for name in ("a", "b"):
            if rng.random() < 0.8:  # some signals never arrive
                # some arrive in time, some past the deadline
                sts = ts + dt.timedelta(
                    minutes=rng.randint(1, 180)
                )
                sigs.append((tid, "flow", name, sts))
                rows.append((tid, "flow", "sig", name, sts, None))

    specs = spark.createDataFrame(
        [("flow", "a", 0), ("flow", "b", 1)],
        "case_name string, signal_name string, sig_index int",
    )
    batch = {
        (r.test_id, r.case_name): (
            r.state,
            r.n_seen,
            r.runtime_secs,
        )
        for r in evaluate_executions(
            spark.createDataFrame(
                execs,
                "test_id string, case_name string, ts timestamp, "
                "expires timestamp",
            ),
            spark.createDataFrame(
                sigs,
                "test_id string, case_name string, "
                "signal_name string, ts timestamp",
            ),
            specs,
            as_of=dt.datetime(2026, 1, 1),
            require_order=True,
        ).collect()
    }

    # time-ordered replay in random contiguous splits + sentinel
    rows.sort(key=lambda r: r[4])
    cuts = sorted(rng.sample(range(1, len(rows)), 3))
    parts = [
        rows[a:b]
        for a, b in zip([0] + cuts, cuts + [len(rows)])
    ]
    src = str(tmp_path / "prop_src")
    for i, part in enumerate(parts):
        spark.createDataFrame(part, SCHEMA).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)
        time.sleep(1.1)
    spark.createDataFrame(
        [("__wm__", "__none__", "sig", None, dt.datetime(2025, 6, 1), None)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)

    emitted = []
    _run(spark, src, str(tmp_path / "prop_ckpt"), emitted)
    streamed = {
        (r.test_id, r.case_name): (r.state, r.n_seen, r.runtime_secs)
        for r in emitted
    }
    assert len(emitted) == len(streamed)  # decided exactly once
    assert streamed == batch


@pytest.mark.slow
def test_redelivered_exec_after_decision_is_swallowed(spark, tmp_path):
    """At-least-once redelivery: an exec row redelivered AFTER its
    verdict must hit the tombstone, not re-create state and emit a
    contradictory second TIMEOUT."""
    src = str(tmp_path / "tsrc")
    ckpt = str(tmp_path / "tckpt")

    spark.createDataFrame(
        [
            ("t1", "flow", "exec", None, T(10), T(12)),
            ("t1", "flow", "sig", "a", T(10, 5), None),
            ("t1", "flow", "sig", "b", T(10, 10), None),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.2)
    # redelivery: same exec row again, carried on a fresh event time
    # (a late-replayed copy below the watermark would be dropped anyway)
    spark.createDataFrame(
        [("t1", "flow", "exec", None, T(13), T(12))], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)
    spark.createDataFrame(
        [("__wm__", "__none__", "sig", None, T(23), None)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)

    emitted = []
    _run(spark, src, ckpt, emitted)
    assert [(r.test_id, r.state) for r in emitted] == [("t1", "PASS")]


@pytest.mark.slow
def test_null_deadline_stays_pending_like_batch(spark, tmp_path):
    """An execution with a NULL expires is INIT forever in the batch
    evaluator — the stream must not decide it either (state is GC'd
    silently on the orphan TTL)."""
    src = str(tmp_path / "nsrc")
    ckpt = str(tmp_path / "nckpt")

    spark.createDataFrame(
        [
            ("t1", "flow", "exec", None, T(10), None),  # no deadline
            ("t1", "flow", "sig", "a", T(10, 5), None),
            ("t1", "flow", "sig", "b", T(10, 10), None),
        ],
        SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.2)
    spark.createDataFrame(
        [("__wm__", "__none__", "sig", None, T(23), None)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)

    emitted = []
    _run(spark, src, ckpt, emitted)
    assert emitted == []  # never decided, never a spurious TIMEOUT
