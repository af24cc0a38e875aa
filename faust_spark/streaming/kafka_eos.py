"""Exactly-once delivery to Kafka: transactional foreachBatch sink.

The reference guarantees exactly-once to Kafka via producer transactions
(``processing_guarantee='exactly_once'`` —
faust/types/settings/settings.py:1393; commit/offset machinery in
faust/transport/consumer.py:184-302).  Structured Streaming's built-in
kafka sink is at-least-once: a crash between the batch write and Spark's
checkpoint commit re-delivers the same ``batch_id``.  This module closes
the gap with the standard two-phase-commit recipe:

1. one Kafka **transaction per micro-batch**, under a STABLE
   ``transactional.id`` (same id across restarts → the broker bumps the
   producer epoch on ``init_transactions`` and **fences zombies**: a
   crashed-but-still-running old producer's commit is rejected);
2. the data rows AND a batch-id marker (sent to a control topic, keyed by
   the transactional id) are written **inside the same transaction**, so
   they commit or abort atomically;
3. on (re)start, the last committed marker is read back (with
   ``isolation.level=read_committed``) and any re-delivered
   ``batch_id <= last`` is skipped — the sink observes each batch exactly
   once even though Spark delivers at-least-once.  The marker key is
   bound to the **checkpoint lineage** (``txn_id @ streaming-query id``,
   :func:`~faust_spark.streaming.runner.lineage_key`, the one key every
   exactly-once sink of the engine commits under): if the checkpoint is
   deleted or relocated, Spark assigns a fresh query id, batch ids
   restart at 0, and old markers under the same ``transactional.id`` no
   longer match — the sink reprocesses from scratch (duplicates are the
   correct at-least-once degradation for a reset checkpoint) instead of
   silently skipping every batch (data loss);
4. any failure mid-batch aborts the transaction — readers running
   ``read_committed`` never see partial batches.

No broker ships in this container, so the Kafka client is an injectable
**transport contract** (``init_transactions / begin_transaction / send /
commit_transaction / abort_transaction / last_committed``) — the exact
surface of a confluent-kafka ``Producer`` configured with
``{'transactional.id': ..., 'enable.idempotence': True}`` plus one
read-committed consumer of the control topic.  tests/test_kafka_eos.py
pins the protocol (2PC ordering, abort-on-failure atomicity, replay
skip, zombie fencing) against a transaction-honoring mock broker; only
the network round trip needs a cluster.

Two sinks implement the recipe:

- ``kafka_transactional_partition_sink`` — the **scale path**: one
  transactional producer per *task partition*, created inside the
  partition function (``transactional.id`` = ``{id}-p{partition}``),
  rows never cross the driver.  Each partition's transaction carries its
  own marker (``{key}#p{pid}``); the driver only verifies that every
  partition's marker committed before letting Spark checkpoint the
  batch.  Atomicity granularity is per-partition (Kafka transactions
  cannot span producers), but delivery is still exactly-once end-to-end:
  a crashed batch is re-delivered, committed partitions skip on their
  marker, uncommitted partitions redo.  Requires the batch's
  partitioning to be deterministic under replay (true for checkpoint
  re-delivery of file/Kafka sources through narrow transforms and
  column-keyed repartitions; round-robin ``repartition(n)`` is not).
  Task retries / speculative attempts of the same partition are fenced
  by ``init_transactions`` on the per-partition id.
- ``kafka_transactional_batch_sink`` — the driver-side variant: one
  producer, whole-batch atomicity.  Appropriate for **control-plane /
  low-volume** topics only; every row funnels through one Python loop,
  so it does not scale to bulk data.

Both run one transaction body, :func:`_transact`; the sink's name picks
the atomicity.  Run either with
``runner.transactional_foreach_batch(df, sink, checkpoint)``, building
the sink with the same ``checkpoint``.
"""

from __future__ import annotations

from typing import Callable, Iterable, Optional, Protocol

from pyspark import TaskContext
from pyspark.sql import DataFrame, Row

from faust_spark.streaming.runner import batch_committed, lineage_key

DEFAULT_CONTROL_TOPIC = "__faust_spark_txn_commits"


class TransactionalTransport(Protocol):
    """The slice of a transactional Kafka producer (+ control-topic
    reader) this sink needs.  confluent-kafka mapping: everything but
    ``last_committed`` is the Producer transactional API verbatim;
    ``last_committed`` is one read-committed consumer poll of the control
    topic filtered to ``key == transactional_id``."""

    def init_transactions(self) -> None: ...

    def begin_transaction(self) -> None: ...

    def send(self, topic: str, key: Optional[str], value: str) -> None: ...

    def commit_transaction(self) -> None: ...

    def abort_transaction(self) -> None: ...

    def last_committed(
        self, control_topic: str, transactional_id: str
    ) -> Optional[int]: ...


def _transact(
    t: TransactionalTransport,
    key: str,
    batch_id: int,
    rows: Callable[[], Iterable[Row]],
    topic: str,
    control_topic: str,
    key_col: Optional[str],
    value_col: str,
) -> None:
    """Deliver one batch (or one partition's share of it) through ``t``
    exactly once under the marker ``key``: skip a batch id already
    committed under it (:func:`~faust_spark.streaming.runner.
    batch_committed`); else send ``rows()`` and the marker in ONE
    transaction and commit, aborting on any exception.  ``rows`` is
    called only after the skip check, so a skipped batch runs no job.
    Module level: the partition sink's task closure pickles it by
    reference."""
    if batch_committed(t.last_committed(control_topic, key), batch_id):
        return  # re-delivered: its transaction already committed
    t.begin_transaction()
    try:
        for row in rows():
            key_v = str(row[key_col]) if key_col else None
            t.send(topic, key_v, str(row[value_col]))
        # marker rides in the SAME transaction as the data
        t.send(control_topic, key, str(batch_id))
        t.commit_transaction()
    except BaseException:
        t.abort_transaction()
        raise


def kafka_transactional_batch_sink(
    topic: str,
    transport_factory: Callable[[str], TransactionalTransport],
    transactional_id: str,
    value_col: str = "value",
    key_col: Optional[str] = None,
    control_topic: str = DEFAULT_CONTROL_TOPIC,
    lineage_id: Optional[str] = None,
    checkpoint: Optional[str] = None,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch callback implementing the two-phase commit
    with whole-batch atomicity: one driver-side transaction per batch.

    The producer is created once per sink lifetime (first batch) — its
    ``init_transactions`` is the fencing point; creating it per batch
    would bump the epoch every batch and defeat zombie detection of a
    concurrently-running stale driver.

    Markers are keyed :func:`~faust_spark.streaming.runner.lineage_key`
    ``(transactional_id, lineage_id, checkpoint)``.
    """
    state: dict = {}
    cols = ([key_col] if key_col else []) + [value_col]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t = state.get("t")
        if t is None:
            t = transport_factory(transactional_id)
            t.init_transactions()
            state["t"] = t
        key = lineage_key(transactional_id, lineage_id, checkpoint)
        rows = batch_df.select(*cols).toLocalIterator
        _transact(
            t, key, batch_id, rows, topic, control_topic, key_col, value_col
        )

    return sink


def kafka_transactional_partition_sink(
    topic: str,
    transport_factory: Callable[[str], TransactionalTransport],
    transactional_id: str,
    value_col: str = "value",
    key_col: Optional[str] = None,
    control_topic: str = DEFAULT_CONTROL_TOPIC,
    lineage_id: Optional[str] = None,
    checkpoint: Optional[str] = None,
) -> Callable[[DataFrame, int], None]:
    """Executor-side exactly-once Kafka sink: per-partition transactional
    producers, no row crosses the driver.

    Per batch, each task partition ``pid``:

    1. creates a producer under ``{transactional_id}-p{pid}`` and calls
       ``init_transactions`` — fencing any stale attempt (task retry,
       speculative execution, zombie executor) of the SAME partition;
    2. skips if its marker ``{key}#p{pid}`` already records a
       ``batch_id >= `` this one (its share of a re-delivered batch
       committed before the crash), ``key`` being
       :func:`~faust_spark.streaming.runner.lineage_key`
       ``(transactional_id, lineage_id, checkpoint)``;
    3. otherwise sends its rows AND its marker in one transaction.

    The driver then re-reads the control topic and requires a committed
    marker from EVERY partition before returning — only then does Spark
    checkpoint the batch as done.  ``transport_factory`` must be
    picklable (it is shipped to executors) and must construct a
    transport connected to the real broker from within the task.
    """
    state: dict = {}
    cols = ([key_col] if key_col else []) + [value_col]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        key = lineage_key(transactional_id, lineage_id, checkpoint)
        sel = batch_df.select(*cols)
        n_parts = sel.rdd.getNumPartitions()

        def run_partition(rows):
            pid = TaskContext.get().partitionId()
            t = transport_factory(f"{transactional_id}-p{pid}")
            t.init_transactions()  # fences prior attempts of this partition
            _transact(
                t, f"{key}#p{pid}", batch_id, lambda: rows, topic,
                control_topic, key_col, value_col,
            )
            return iter(())

        sel.rdd.mapPartitions(run_partition).count()  # raises on task failure
        # driver-side verification: every partition marker must be committed
        ctrl = state.get("ctrl")
        if ctrl is None:
            ctrl = transport_factory(transactional_id)  # control reads only
            state["ctrl"] = ctrl
        missing = [
            p
            for p in range(n_parts)
            if not batch_committed(
                ctrl.last_committed(control_topic, f"{key}#p{p}"), batch_id
            )
        ]
        if missing:
            raise RuntimeError(
                f"batch {batch_id}: partitions without committed markers: "
                f"{missing}"
            )

    return sink


__all__ = [
    "DEFAULT_CONTROL_TOPIC",
    "TransactionalTransport",
    "kafka_transactional_batch_sink",
    "kafka_transactional_partition_sink",
]
