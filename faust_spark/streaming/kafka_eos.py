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
   read from the checkpoint's metadata file): if the checkpoint is
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
"""

from __future__ import annotations

from typing import Callable, Optional, Protocol

from pyspark.sql import DataFrame

from faust_spark.streaming.runner import drain

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


def _checkpoint_lineage_id(checkpoint: str) -> Optional[str]:
    """The streaming-query id Spark wrote into ``<checkpoint>/metadata``
    — stable across restarts of the same checkpoint, fresh whenever the
    checkpoint is deleted or relocated.  That makes it the lineage token
    batch ids are meaningful under: batch 0 of a reset checkpoint is NOT
    batch 0 of the old one."""
    import json
    import os

    path = os.path.join(checkpoint, "metadata")
    try:
        with open(path) as f:
            return json.load(f).get("id")
    except (OSError, ValueError):
        return None


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
    """Build the foreachBatch callback implementing the two-phase commit.

    The producer is created once per sink lifetime (first batch) — its
    ``init_transactions`` is the fencing point; creating it per batch
    would bump the epoch every batch and defeat zombie detection of a
    concurrently-running stale driver.

    Markers are keyed ``{transactional_id}@{lineage}`` where ``lineage``
    is ``lineage_id`` if given, else the streaming-query id read from
    ``checkpoint`` (lazily, on the first batch — by then Spark has
    written the metadata file).  A marker written under a previous
    checkpoint lineage therefore never matches, so a checkpoint reset
    reprocesses instead of silently skipping restarted batch ids.
    With neither ``lineage_id`` nor ``checkpoint`` the key is the bare
    ``transactional_id`` — callers then MUST rotate the transactional id
    whenever the checkpoint is reset.
    """
    state: dict = {}

    def marker_key() -> str:
        if "mk" not in state:
            lid = lineage_id
            if lid is None and checkpoint is not None:
                lid = _checkpoint_lineage_id(checkpoint)
            state["mk"] = (
                f"{transactional_id}@{lid}" if lid else transactional_id
            )
        return state["mk"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t = state.get("t")
        if t is None:
            t = transport_factory(transactional_id)
            t.init_transactions()
            state["t"] = t
        last = t.last_committed(control_topic, marker_key())
        if last is not None and batch_id <= last:
            return  # re-delivered batch: its transaction already committed
        t.begin_transaction()
        try:
            cols = ([key_col] if key_col else []) + [value_col]
            for row in batch_df.select(*cols).toLocalIterator():
                key = str(row[key_col]) if key_col else None
                t.send(topic, key, str(row[value_col]))
            # marker rides in the SAME transaction as the data
            t.send(control_topic, marker_key(), str(batch_id))
            t.commit_transaction()
        except BaseException:
            t.abort_transaction()
            raise

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
    2. skips if its marker ``{marker_key}#p{pid}`` already records a
       ``batch_id >= `` this one (its share of a re-delivered batch
       committed before the crash);
    3. otherwise sends its rows AND its marker in one transaction.

    The driver then re-reads the control topic and requires a committed
    marker from EVERY partition before returning — only then does Spark
    checkpoint the batch as done.  ``transport_factory`` must be
    picklable (it is shipped to executors) and must construct a
    transport connected to the real broker from within the task.
    """
    state: dict = {}

    def marker_key() -> str:
        if "mk" not in state:
            lid = lineage_id
            if lid is None and checkpoint is not None:
                lid = _checkpoint_lineage_id(checkpoint)
            state["mk"] = (
                f"{transactional_id}@{lid}" if lid else transactional_id
            )
        return state["mk"]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        mk = marker_key()
        cols = ([key_col] if key_col else []) + [value_col]
        sel = batch_df.select(*cols)
        n_parts = sel.rdd.getNumPartitions()
        # locals captured by the task closure (no self-references)
        factory, tid = transport_factory, transactional_id
        tp, ct, kc, vc, bid = topic, control_topic, key_col, value_col, batch_id

        def run_partition(rows):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            t = factory(f"{tid}-p{pid}")
            t.init_transactions()  # fences prior attempts of this partition
            pmk = f"{mk}#p{pid}"
            last = t.last_committed(ct, pmk)
            if last is not None and bid <= last:
                return iter(())  # this partition's share already committed
            t.begin_transaction()
            try:
                for row in rows:
                    t.send(tp, str(row[kc]) if kc else None, str(row[vc]))
                t.send(ct, pmk, str(bid))  # marker rides the data txn
                t.commit_transaction()
            except BaseException:
                t.abort_transaction()
                raise
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
            if (m := ctrl.last_committed(ct, f"{mk}#p{p}")) is None or m < bid
        ]
        if missing:
            raise RuntimeError(
                f"batch {batch_id}: partitions without committed markers: "
                f"{missing}"
            )

    return sink


def kafka_transactional_foreach_batch(
    df: DataFrame,
    topic: str,
    transport_factory: Callable[[str], TransactionalTransport],
    checkpoint: str,
    transactional_id: str,
    value_col: str = "value",
    key_col: Optional[str] = None,
    control_topic: str = DEFAULT_CONTROL_TOPIC,
    timeout_sec: float = 300.0,
    distributed: bool = False,
) -> None:
    """Run ``df`` to completion (availableNow) through the transactional
    Kafka sink — the EOS counterpart of the built-in at-least-once
    ``writeStream.format('kafka')`` path.  ``distributed=True`` selects
    the executor-side per-partition sink (the scale path; requires a
    picklable ``transport_factory``)."""
    build = (
        kafka_transactional_partition_sink
        if distributed
        else kafka_transactional_batch_sink
    )
    sink = build(
        topic,
        transport_factory,
        transactional_id,
        value_col=value_col,
        key_col=key_col,
        control_topic=control_topic,
        checkpoint=checkpoint,
    )
    drain(
        df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint),
        "kafka_transactional_foreach_batch",
        timeout_sec,
    )


__all__ = [
    "DEFAULT_CONTROL_TOPIC",
    "TransactionalTransport",
    "kafka_transactional_batch_sink",
    "kafka_transactional_foreach_batch",
    "kafka_transactional_partition_sink",
]
