"""Run helpers: execute a streaming plan to completion over bounded input.

``run_to_memory`` is the test/correctness harness path: replay a bounded
source (e.g. the driver's parquet fixtures) through the *streaming* engine
with an ``availableNow`` trigger, sink to memory, and hand back the result
DataFrame. This is how streaming operators get the same DuckDB-oracle
treatment as batch ones — same data, same query shape, real streaming
execution (state store, watermarks, output modes).
"""

from __future__ import annotations

import os
import uuid
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


#: Hadoop ``GlobPattern`` metacharacters, plus ``!``/``^``, which negate
#: a character class when they open it
_GLOB_META = frozenset("\\*?[]{}!^")


def _file_glob(path: str) -> str:
    """A Hadoop glob matching exactly the one file ``path``: every glob
    metacharacter escaped, and the last character wrapped in a class so
    the path IS a glob. A plain file path fails as a stream source
    (``Option 'basePath' must be a directory``); a glob does not."""
    esc = [("\\" + c if c in _GLOB_META else c) for c in path]
    return "".join(esc[:-1]) + "[" + esc[-1] + "]"


def stream_parquet(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Open a parquet file/dir as a stream (schema inferred from a batch
    peek). ``max_files_per_trigger`` forces multi-batch replay — useful to
    prove an operator is batching-invariant."""
    if os.path.isfile(path):
        # the file stream source lists a directory or a glob: read the
        # one file through a glob naming it
        path = _file_glob(path)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def state_partitions(n_events: int, cap: int) -> int:
    """State-store partition count for a keyed stream of ``n_events``.

    Every state-store instance pays a fixed init/commit per micro-batch
    regardless of its rows, so the count follows the keyed-state volume —
    one store per 12,500 events, at least 4 — capped at ``cap`` (the
    session width). Results are partitioning-invariant; only the fixed
    per-batch overhead changes."""
    return min(cap, max(4, n_events // 12_500))


def run_to_memory(
    df: DataFrame,
    output_mode: str = "update",
    query_name: Optional[str] = None,
    timeout_sec: float = 300.0,
) -> DataFrame:
    """Start ``df`` as a streaming query on an availableNow trigger, wait
    for completion, return the memory-sink table."""
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(f"streaming query {name} didn't finish")
    finally:
        if q.isActive:
            q.stop()
    return df.sparkSession.table(name)


def cdc_export(
    df: DataFrame,
    path: str,
    checkpoint: str,
    timeout_sec: float = 300.0,
):
    """Changelog-style CDC export (the reference's table changelog topic,
    SURVEY §2.1): every update-mode emission appends to a parquet log via
    foreachBatch, stamped with the batch id. Downstream consumers replay
    the log exactly like a compacted changelog (last write per key wins).
    """
    from pyspark.sql import functions as F

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(path)
        )

    q = (
        df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError("cdc_export didn't finish")


def exactly_once_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    timeout_sec: float = 300.0,
):
    """Effectively-once file sink: idempotent per-batch partition overwrite.

    The reference reaches exactly-once with Kafka transactions (its
    ``processing_guarantee='exactly_once'``); for file outputs the Spark
    equivalent is idempotent replay — each micro-batch writes to its own
    ``__batch_id=N`` partition with dynamic partition overwrite, so a
    retried batch (after a crash between write and checkpoint-commit)
    overwrites its own partition instead of duplicating rows.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        # Per-write option, NOT a session conf: setting
        # spark.sql.sources.partitionOverwriteMode on the shared session
        # would silently change overwrite semantics for every later write.
        (
            batch_df.withColumn("__batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id")
            .parquet(path)
        )

    q = (
        df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError("exactly_once_parquet_sink didn't finish")


def committed_batch_sink(
    sink: Callable[[DataFrame, int], None], commit_dir: str
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink with the batch commit log: skip batch ids
    already marked committed, mark (atomic tmp+rename) after success."""
    os.makedirs(commit_dir, exist_ok=True)

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(commit_dir, f"{batch_id}.committed")
        if os.path.exists(marker):
            return  # re-delivery of a batch the sink already saw
        sink(batch_df, batch_id)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("ok")
        os.replace(tmp, marker)

    return wrapped


def transactional_foreach_batch(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    commit_dir: str,
    timeout_sec: float = 300.0,
):
    """Exactly-once delivery to arbitrary sinks via a batch commit log —
    the engine-generic analogue of the reference's Kafka transactions
    (``processing_guarantee='exactly_once'``,
    ``faust/types/settings/settings.py:1393``).

    Structured Streaming gives foreachBatch at-least-once delivery: a
    crash between sink success and checkpoint commit re-runs the batch
    with the SAME batch_id. This wrapper closes the gap for sinks that are
    neither idempotent nor transactional: after ``sink`` succeeds, the
    batch id is recorded (atomic tmp+rename marker) in ``commit_dir``; a
    re-delivered batch id that is already committed is skipped, so the
    sink observes each batch exactly once. For Kafka, ``sink`` is the
    kafka-format batch write and the marker plays the transaction-commit
    role (the reference's producer transaction); for true cross-system
    atomicity the marker write and sink write must share a failure domain
    (same object store / same DB transaction).
    """
    wrapped = committed_batch_sink(sink, commit_dir)
    q = (
        df.writeStream.foreachBatch(wrapped)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError("transactional_foreach_batch didn't finish")


def take_buffers(
    df: DataFrame,
    max_: int,
    within: Optional[float] = None,
    timeout_sec: float = 300.0,
) -> list:
    """``Stream.take(max_, within=)`` parity: consume a stream as buffers
    of at most ``max_`` rows, flushing partial buffers on the time axis.

    Reference semantics (``faust/streams.py:303-316``): buffer values and
    yield a list when either ``max_`` values have arrived or ``within``
    seconds elapsed since the first buffered value — a partial buffer is
    *flushed by time*, never held indefinitely.

    Structured-Streaming mapping: the trigger is the clock. With
    ``trigger(processingTime=within)`` each micro-batch closes at the
    ``within`` cadence; its rows are sliced into full ``max_``-row buffers
    plus one final partial flush, so no row waits longer than one
    ``within`` interval once the stream pauses — the same observable
    guarantee. On a bounded source (``within=None``) an ``availableNow``
    trigger drains everything, flushing the tail partial buffer at
    end-of-input (the "give up waiting" branch).
    """
    buffers: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()
        for i in range(0, len(rows), max_):
            buffers.append(rows[i : i + max_])

    writer = df.writeStream.foreachBatch(sink).outputMode("append")
    if within is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{within} seconds")
    q = writer.start()
    try:
        if not q.awaitTermination(timeout_sec):
            if within is None:
                raise TimeoutError("take_buffers didn't drain")
    finally:
        if q.isActive:
            q.stop()
    return buffers


__all__ = [
    "stream_parquet",
    "run_to_memory",
    "cdc_export",
    "exactly_once_parquet_sink",
    "transactional_foreach_batch",
    "take_buffers",
]
