"""Test harness: feed rows through an agent, capture results.

Parity with the reference's agent test wrapper (``Agent.test_context()``:
put events in, collect processed results, surface errors). Spark-native
form: rows → DataFrame → the agent's plan → collected rows. For streaming
agents, ``feed_stream`` replays the rows through the real streaming engine
(memory-sink availableNow) instead of batch evaluation.
"""

from __future__ import annotations

import fcntl
import json
import os
import tempfile
from contextlib import contextmanager
from typing import Any, Callable, Optional, Sequence

from pyspark.sql import DataFrame, Row, SparkSession

from faust_spark.app import Agent, App


def feed(
    agent: Agent,
    rows: Sequence[Any],
    schema: Any,
    collect: bool = True,
):
    """Run ``agent`` over the given rows (batch semantics).

    ``schema`` is a StructType / DDL string / Record class.
    Returns collected Rows (or the DataFrame with ``collect=False``).
    """
    from faust_spark.models import Record

    if isinstance(schema, type) and issubclass(schema, Record):
        schema = schema.spark_schema()
    df = agent.app.spark.createDataFrame(rows, schema)
    out = agent(df)
    if isinstance(out, DataFrame) and collect:
        return out.collect()
    return out


def feed_stream(
    agent: Agent,
    rows: Sequence[Any],
    schema: Any,
    output_mode: str = "update",
):
    """Run ``agent`` over the rows through the real streaming engine.

    The rows are staged as parquet and replayed as a file stream; the
    agent receives the streaming DataFrame and must return one.
    """
    from faust_spark.models import Record
    from faust_spark.streaming.runner import run_to_memory, stream_parquet

    if isinstance(schema, type) and issubclass(schema, Record):
        schema = schema.spark_schema()
    spark = agent.app.spark
    with tempfile.TemporaryDirectory(prefix="feed_stream_") as d:
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(d)
        s = stream_parquet(spark, d)
        out = agent(s)
        return run_to_memory(out, output_mode=output_mode).collect()


class ProducerFencedError(RuntimeError):
    """Raised by :class:`FileBrokerTransport` when a commit comes from a
    producer whose epoch was superseded by a newer ``init_transactions``
    — the file-broker analogue of Kafka's ProducerFenced."""


class FileBrokerTransport:
    """Transactional-transport mock backed by a shared directory.

    Implements the :class:`~faust_spark.streaming.kafka_eos.
    TransactionalTransport` protocol with state that is visible across
    *processes* — so the executor-side EOS sink (which creates producers
    inside Spark Python workers) can be exercised end-to-end without a
    broker.  Semantics mirror a transaction-honoring Kafka broker:

    - sends buffer in the producer until ``commit_transaction``; aborted
      buffers vanish; committed records append atomically (under an
      ``fcntl`` lock) to ``<root>/topics/<topic>.log`` as JSON lines;
    - ``init_transactions`` bumps the epoch for the transactional id in
      ``<root>/epochs.json``; a commit from a superseded epoch raises
      :class:`ProducerFencedError` (zombie fencing).

    Instances are constructed per task via
    ``functools.partial(FileBrokerTransport, root)`` — picklable because
    the class lives in a real module.
    """

    def __init__(self, root: str, transactional_id: str):
        self.root = root
        self.txn_id = transactional_id
        self.pending: Optional[list] = None
        self.epoch: Optional[int] = None
        os.makedirs(os.path.join(root, "topics"), exist_ok=True)

    @contextmanager
    def _locked(self):
        fd = os.open(os.path.join(self.root, ".lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _epochs_path(self) -> str:
        return os.path.join(self.root, "epochs.json")

    def _read_epochs(self) -> dict:
        try:
            with open(self._epochs_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def init_transactions(self) -> None:
        with self._locked():
            epochs = self._read_epochs()
            epochs[self.txn_id] = epochs.get(self.txn_id, 0) + 1
            with open(self._epochs_path(), "w") as f:
                json.dump(epochs, f)
            self.epoch = epochs[self.txn_id]

    def begin_transaction(self) -> None:
        assert self.pending is None, "nested transaction"
        self.pending = []

    def send(self, topic: str, key, value: str) -> None:
        assert self.pending is not None, "send outside transaction"
        self.pending.append((topic, key, value))

    def commit_transaction(self) -> None:
        with self._locked():
            if self._read_epochs().get(self.txn_id) != self.epoch:
                self.pending = None
                raise ProducerFencedError(self.txn_id)
            by_topic: dict = {}
            for topic, key, value in self.pending:
                by_topic.setdefault(topic, []).append((key, value))
            for topic, recs in by_topic.items():
                path = os.path.join(self.root, "topics", f"{topic}.log")
                with open(path, "a") as f:
                    for key, value in recs:
                        f.write(json.dumps([key, value]) + "\n")
        self.pending = None

    def abort_transaction(self) -> None:
        self.pending = None

    def last_committed(self, control_topic: str, transactional_id: str):
        bids = [
            int(v)
            for k, v in self.read_committed(control_topic)
            if k == transactional_id
        ]
        return max(bids) if bids else None

    def read_committed(self, topic: str) -> list:
        path = os.path.join(self.root, "topics", f"{topic}.log")
        try:
            with self._locked(), open(path) as f:
                return [tuple(json.loads(line)) for line in f if line.strip()]
        except OSError:
            return []


class FlakyFileBrokerTransport(FileBrokerTransport):
    """File-broker transport that injects ONE commit failure for any
    transactional id containing ``fail_substr`` — crash-point testing
    for the executor-side sink (e.g. ``fail_substr='-p2'`` makes
    partition 2's first commit die mid-batch while siblings commit).
    The failure is recorded in a flag file so the retry succeeds."""

    def __init__(
        self,
        root: str,
        transactional_id: str,
        fail_substr: Optional[str] = None,
    ):
        super().__init__(root, transactional_id)
        self.fail_substr = fail_substr

    def commit_transaction(self) -> None:
        if self.fail_substr and self.fail_substr in self.txn_id:
            flag = os.path.join(
                self.root, f".failed_{self.txn_id.replace('/', '_')}"
            )
            if not os.path.exists(flag):
                with open(flag, "w") as f:
                    f.write("1")
                self.pending = None
                raise IOError(f"injected commit failure for {self.txn_id}")
        super().commit_transaction()


__all__ = [
    "feed",
    "feed_stream",
    "FileBrokerTransport",
    "FlakyFileBrokerTransport",
    "ProducerFencedError",
]
