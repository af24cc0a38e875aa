"""Kafka exactly-once contract: transactional foreachBatch against a
transaction-honoring mock broker.

Protocol pinned here (reference: faust/transport/consumer.py:184-302,
processing_guarantee='exactly_once'): 2PC ordering, atomic
abort-on-failure (read_committed readers never see partial batches),
re-delivered-batch skip via the in-transaction control marker, and
zombie fencing via the transactional-id epoch. Only the broker round
trip itself needs a cluster (same boundary as test_kafka_contract.py).
"""

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from faust_spark.streaming.kafka_eos import (
    DEFAULT_CONTROL_TOPIC,
    kafka_transactional_batch_sink,
)


class ProducerFenced(Exception):
    pass


class MockBroker:
    """In-memory broker honoring transactions: sends buffer in the
    producer until commit; aborted buffers vanish; a producer whose
    epoch was superseded by a newer init_transactions is fenced."""

    def __init__(self):
        self.topics: dict[str, list[tuple]] = defaultdict(list)
        self.epochs: dict[str, int] = {}

    def read_committed(self, topic):
        return list(self.topics[topic])


class MockTransport:
    def __init__(self, broker: MockBroker, transactional_id: str):
        self.broker = broker
        self.txn_id = transactional_id
        self.epoch = None
        self.pending = None
        self.sent_log: list[tuple] = []  # every send attempt, for asserts

    def init_transactions(self):
        self.broker.epochs[self.txn_id] = (
            self.broker.epochs.get(self.txn_id, 0) + 1
        )
        self.epoch = self.broker.epochs[self.txn_id]

    def begin_transaction(self):
        assert self.pending is None, "nested transaction"
        self.pending = []

    def send(self, topic, key, value):
        assert self.pending is not None, "send outside transaction"
        self.sent_log.append((topic, key, value))
        self.pending.append((topic, key, value))

    def commit_transaction(self):
        if self.epoch != self.broker.epochs[self.txn_id]:
            self.pending = None
            raise ProducerFenced(self.txn_id)
        for topic, key, value in self.pending:
            self.broker.topics[topic].append((key, value))
        self.pending = None

    def abort_transaction(self):
        self.pending = None

    def last_committed(self, control_topic, transactional_id):
        bids = [
            int(v)
            for k, v in self.broker.read_committed(control_topic)
            if k == transactional_id
        ]
        return max(bids) if bids else None


@pytest.fixture()
def broker():
    return MockBroker()


def _events_df(spark, n=20):
    from faust_spark.catalog import load_table

    return (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .limit(n)
        .select(
            F.col("event_id").cast("string").alias("key"),
            F.col("event_type").alias("value"),
        )
    )


def test_happy_path_commits_rows_and_marker_atomically(spark, broker):
    transports = []

    def factory(txn_id):
        t = MockTransport(broker, txn_id)
        transports.append(t)
        return t

    sink = kafka_transactional_batch_sink(
        "out", factory, "app-out", key_col="key"
    )
    df = _events_df(spark)
    sink(df, 0)
    rows = broker.read_committed("out")
    assert len(rows) == 20
    assert broker.read_committed(DEFAULT_CONTROL_TOPIC) == [("app-out", "0")]
    # one producer, initialized once
    assert len(transports) == 1 and transports[0].epoch == 1


def test_redelivered_batch_is_skipped_without_sends(spark, broker):
    t_holder = []

    def factory(txn_id):
        t = MockTransport(broker, txn_id)
        t_holder.append(t)
        return t

    sink = kafka_transactional_batch_sink("out", factory, "app-out")
    df = _events_df(spark)
    sink(df, 0)
    n_sends = len(t_holder[0].sent_log)
    sink(df, 0)  # crash-replay: same batch id again
    assert len(t_holder[0].sent_log) == n_sends  # zero new sends
    assert len(broker.read_committed("out")) == 20  # no duplicates
    # a NEWER batch id still goes through
    sink(df, 1)
    assert len(broker.read_committed("out")) == 40


def test_failure_mid_batch_aborts_atomically(spark, broker):
    class FlakyTransport(MockTransport):
        def __init__(self, broker, txn_id):
            super().__init__(broker, txn_id)
            self.fail_after = 5

        def send(self, topic, key, value):
            if len(self.sent_log) == self.fail_after:
                raise IOError("broker connection lost")
            super().send(topic, key, value)

    t_holder = []

    def factory(txn_id):
        t = FlakyTransport(broker, txn_id)
        t_holder.append(t)
        return t

    sink = kafka_transactional_batch_sink("out", factory, "app-out")
    df = _events_df(spark)
    with pytest.raises(IOError):
        sink(df, 0)
    # aborted transaction: read_committed consumers see NOTHING
    assert broker.read_committed("out") == []
    assert broker.read_committed(DEFAULT_CONTROL_TOPIC) == []
    # retry of the same batch id now succeeds and delivers exactly once
    t_holder[0].fail_after = 10**9
    sink(df, 0)
    assert len(broker.read_committed("out")) == 20
    assert broker.read_committed(DEFAULT_CONTROL_TOPIC) == [("app-out", "0")]


def test_zombie_producer_is_fenced(spark, broker):
    old = MockTransport(broker, "app-out")
    old.init_transactions()
    # a new incarnation (restarted driver) takes over the id
    new = MockTransport(broker, "app-out")
    new.init_transactions()
    old.begin_transaction()
    old.send("out", None, "stale")
    with pytest.raises(ProducerFenced):
        old.commit_transaction()
    assert broker.read_committed("out") == []  # zombie write invisible
    new.begin_transaction()
    new.send("out", None, "fresh")
    new.commit_transaction()
    assert broker.read_committed("out") == [(None, "fresh")]


def test_end_to_end_foreach_batch_multi_batch(spark, broker, tmp_path):
    """Real streaming execution: multi-file source → one transaction per
    micro-batch; every source row delivered exactly once."""
    src = str(tmp_path / "src")
    _events_df(spark, n=40).repartition(4).write.parquet(src)
    from faust_spark.streaming.runner import (
        stream_parquet,
        transactional_foreach_batch,
    )

    def factory(txn_id):
        return MockTransport(broker, txn_id)

    ckpt = str(tmp_path / "ckpt")
    stream = stream_parquet(spark, src, max_files_per_trigger=1)
    sink = kafka_transactional_batch_sink(
        "out", factory, "app-out", key_col="key", checkpoint=ckpt
    )
    transactional_foreach_batch(stream, sink, ckpt)
    rows = broker.read_committed("out")
    keys = [k for k, _ in rows]
    assert len(keys) == 40 and len(set(keys)) == 40  # exactly once
    markers = broker.read_committed(DEFAULT_CONTROL_TOPIC)
    bids = sorted(int(v) for _, v in markers)
    assert bids == list(range(len(bids))) and len(bids) >= 2  # per-batch txn


def test_checkpoint_reset_reprocesses_instead_of_skipping(spark, broker):
    """Markers are bound to the checkpoint lineage: after a checkpoint
    reset (fresh lineage id, batch ids restart at 0) old markers under
    the same transactional id must NOT cause skips — that would be
    silent data loss; reprocessing is the correct degradation."""

    def factory(txn_id):
        return MockTransport(broker, txn_id)

    df = _events_df(spark)
    sink_a = kafka_transactional_batch_sink(
        "out", factory, "app-out", key_col="key", lineage_id="run-A"
    )
    sink_a(df, 0)
    sink_a(df, 1)
    assert len(broker.read_committed("out")) == 40
    # checkpoint deleted → new query id, batch ids restart at 0
    sink_b = kafka_transactional_batch_sink(
        "out", factory, "app-out", key_col="key", lineage_id="run-B"
    )
    sink_b(df, 0)  # must DELIVER (lineage mismatch), not skip
    assert len(broker.read_committed("out")) == 60
    keys = {k for k, _ in broker.read_committed(DEFAULT_CONTROL_TOPIC)}
    assert keys == {"app-out@run-A", "app-out@run-B"}
    # within lineage B, replay of batch 0 still skips
    sink_b(df, 0)
    assert len(broker.read_committed("out")) == 60


def test_lineage_read_from_checkpoint_metadata(spark, broker, tmp_path):
    """With ``checkpoint=`` the sink derives the lineage token from the
    query id Spark writes into <checkpoint>/metadata."""
    import json

    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(json.dumps({"id": "qid-123"}))

    def factory(txn_id):
        return MockTransport(broker, txn_id)

    sink = kafka_transactional_batch_sink(
        "out", factory, "app-out", key_col="key", checkpoint=str(ckpt)
    )
    sink(_events_df(spark, n=5), 0)
    assert broker.read_committed(DEFAULT_CONTROL_TOPIC) == [
        ("app-out@qid-123", "0")
    ]


_batch_df_cache: dict = {}


def _batch_df(spark, bid: int):
    """Distinct 3-row batch per batch id (cached: hypothesis re-runs)."""
    key = (id(spark), bid)
    if key not in _batch_df_cache:
        _batch_df_cache[key] = spark.createDataFrame(
            [(f"b{bid}r{i}", f"v{bid}.{i}") for i in range(3)],
            "key string, value string",
        ).cache()
    return _batch_df_cache[key]


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    plan=st.lists(
        st.sampled_from(["ok", "crash_at_commit", "crash_after_commit"]),
        min_size=1,
        max_size=6,
    )
)
@pytest.mark.slow
def test_crash_point_replay_matrix(spark, plan):
    """Randomized crash-point replay property (VERDICT r3 item 7): for
    every schedule of crashes at / after the commit boundary, with the
    driver restarting (fresh producer, Spark re-delivering the open
    batch id) after each crash, the read_committed view of the data
    topic contains every row of every finalized batch EXACTLY once and
    markers are the consecutive batch-id prefix."""
    broker = MockBroker()
    armed = {"crash": False}  # next commit_transaction raises — the
    # sharpest crash point: data AND marker sit in the open transaction

    class CommitCrashTransport(MockTransport):
        def commit_transaction(self):
            if armed["crash"]:
                armed["crash"] = False
                raise IOError("driver died at commit")
            super().commit_transaction()

    def factory(txn_id):
        return CommitCrashTransport(broker, txn_id)

    def fresh_sink():
        return kafka_transactional_batch_sink(
            "out", factory, "app-out", key_col="key", lineage_id="L"
        )

    sink = fresh_sink()
    bid = 0
    for step in plan:
        df = _batch_df(spark, bid)
        if step == "ok":
            sink(df, bid)
            bid += 1
        elif step == "crash_at_commit":
            armed["crash"] = True
            with pytest.raises(IOError):
                sink(df, bid)
            sink = fresh_sink()  # driver restart; bid NOT advanced
        else:  # crash_after_commit: commit landed, checkpoint didn't
            sink(df, bid)
            sink = fresh_sink()  # restart → Spark re-delivers same bid
            sink(df, bid)  # must skip (marker committed)
            bid += 1
    # drain: re-deliver the open batch once more through a fresh sink
    if bid < len(plan) + 1:
        sink(_batch_df(spark, bid), bid)
        bid += 1
    rows = broker.read_committed("out")
    keys = [k for k, _ in rows]
    expect = {f"b{b}r{i}" for b in range(bid) for i in range(3)}
    assert len(keys) == len(set(keys)), "duplicate delivery"
    assert set(keys) == expect, "lost or phantom batch"
    marker_bids = sorted(
        int(v)
        for k, v in broker.read_committed(DEFAULT_CONTROL_TOPIC)
        if k == "app-out@L"
    )
    assert marker_bids == list(range(bid))
