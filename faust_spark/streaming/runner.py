"""Run helpers: execute a streaming plan to completion over bounded input.

Every bounded run starts in :func:`drain`: the query goes on an
``availableNow`` trigger, the caller waits, a timeout raises
``TimeoutError`` naming the run, and a query still active on any exit is
stopped. ``run_to_memory`` is the test/correctness harness path on top of
it: replay a bounded source (e.g. the driver's parquet fixtures) through
the *streaming* engine, sink to memory, and hand back the result
DataFrame. This is how streaming operators get the same DuckDB-oracle
treatment as batch ones — same data, same query shape, real streaming
execution (state store, watermarks, output modes).
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from contextlib import contextmanager
from pathlib import Path
from typing import Callable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from faust_spark.session import conf_set


#: Hadoop ``GlobPattern`` metacharacters, plus ``!``/``^``, which negate
#: a character class when they open it
_GLOB_META = frozenset("\\*?[]{}!^")


def _glob_escape(path: str) -> str:
    """``path`` with every Hadoop glob metacharacter escaped: as a glob
    it matches only itself."""
    return "".join("\\" + c if c in _GLOB_META else c for c in path)


def stream_parquet(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Open a parquet file/dir as a stream (schema inferred from a batch
    peek). ``max_files_per_trigger`` forces multi-batch replay — useful to
    prove an operator is batching-invariant."""
    opts = {}
    if os.path.isfile(path):
        # the file stream source lists a directory: list the file's own
        # directory and keep only the file's name
        d, name = os.path.split(os.path.abspath(path))
        path, opts = _glob_escape(d), {"pathGlobFilter": _glob_escape(name)}
    schema = spark.read.options(**opts).parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet").options(**opts)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def write_ordered(df: DataFrame, path: str, n: int, col: str) -> None:
    """Write ``df`` as ``n`` part files under ``path`` that a file stream
    replays in nondecreasing ``col`` order.

    A range partitioner puts ascending ``col`` ranges in ascending
    part-file NAMES, but the file stream source orders by MODIFICATION
    TIME, and one write job stamps near-identical mtimes (measured:
    batches arrived rotated). So the files get strictly increasing mtimes
    in name order, all in the past: a file written to ``path`` later
    replays after every one of them."""
    df.repartitionByRange(n, col).write.parquet(path)
    t0 = time.time() - n
    for i, f in enumerate(sorted(glob.glob(os.path.join(path, "part-*")))):
        os.utime(f, (t0 + i, t0 + i))


def state_partitions(n_rows: int, rows_per_instance: int, cap: int) -> int:
    """State-store partition count for a stateful stream of ``n_rows``.

    Every state-store instance pays a fixed init/commit per micro-batch
    regardless of its rows, and each is one task per micro-batch, so
    instances past the session's cores only queue. The count follows the
    state volume — one instance per ``rows_per_instance`` rows, the
    operator's state cost (12,500 events for a keyed aggregation, 300
    rows for the LiveCheck audit's Python state) — at least 4, capped at
    ``cap``, the session width (``spark.sql.shuffle.partitions``, which
    ``get_spark`` sets to the core count). Results are
    partitioning-invariant; only the fixed per-batch overhead changes."""
    return min(cap, max(4, n_rows // rows_per_instance))


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int) -> Iterator[None]:
    """Run the block with ``spark.sql.shuffle.partitions`` set to ``n``
    and restore the session's value after. A stateful query's state-store
    partition count binds when it first starts on a fresh checkpoint, so
    the block has to cover only the start; size ``n`` with
    :func:`state_partitions` or the operator's own rule."""
    with conf_set(spark, "spark.sql.shuffle.partitions", str(n)):
        yield


def drain(
    writer: DataStreamWriter, label: str, timeout_sec: float = 300.0
) -> StreamingQuery:
    """Run ``writer``'s query over all input available now; return the
    finished query.

    The query starts on an ``availableNow`` trigger and is awaited. If it
    is still running after ``timeout_sec`` it is stopped and
    ``TimeoutError`` names ``label``: a partial output must never pass for
    the drained result. A failed query's exception propagates from the
    wait. On any exit a query still active is stopped, so the caller's
    cleanup never deletes files under a running query."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"{label}: streaming query still running after "
                f"{timeout_sec:g}s; partial output discarded"
            )
    finally:
        if q.isActive:
            q.stop()
    return q


def run_to_memory(
    df: DataFrame,
    output_mode: str = "update",
    query_name: Optional[str] = None,
    timeout_sec: float = 300.0,
) -> DataFrame:
    """:func:`drain` ``df`` into a memory sink; return the sink's table."""
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    drain(
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        name,
        timeout_sec,
    )
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

    drain(
        df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint),
        "cdc_export",
        timeout_sec,
    )


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

    Single lineage only: the partitions are keyed by batch id alone, not
    by :func:`lineage_key`.  After a checkpoint reset, batch ids restart
    at 0 and overwrite the old lineage's ``__batch_id=N`` partitions —
    the old rows there are lost, or, when the new lineage batches the
    same input differently, rows of untouched old partitions are
    duplicated.  Point a reset checkpoint at a fresh ``path``.
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

    drain(
        df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint),
        "exactly_once_parquet_sink",
        timeout_sec,
    )


def _checkpoint_lineage_id(checkpoint: str) -> Optional[str]:
    """The streaming-query id Spark wrote into ``<checkpoint>/metadata``
    — stable across restarts of the same checkpoint, fresh whenever the
    checkpoint is deleted or relocated.  That makes it the lineage token
    batch ids are meaningful under: batch 0 of a reset checkpoint is NOT
    batch 0 of the old one."""
    import json

    path = os.path.join(checkpoint, "metadata")
    try:
        with open(path) as f:
            return json.load(f).get("id")
    except (OSError, ValueError):
        return None


def lineage_key(
    sink_id: str,
    lineage_id: Optional[str] = None,
    checkpoint: Optional[str] = None,
) -> str:
    """The key every exactly-once sink commits its batch-id markers
    under: ``{sink_id}@{lineage}``, ``lineage`` being ``lineage_id``,
    else the query id in ``checkpoint``'s metadata (written when the
    query starts, so sinks resolve the key per batch).  A marker of an
    earlier checkpoint lineage never matches, so a reset checkpoint's
    batches are delivered again instead of silently skipped.  With
    neither, the key is the bare ``sink_id`` — callers then MUST rotate
    the sink id whenever the checkpoint is reset."""
    lid = lineage_id
    if lid is None and checkpoint is not None:
        lid = _checkpoint_lineage_id(checkpoint)
    return f"{sink_id}@{lid}" if lid else sink_id


def batch_committed(last: Optional[int], batch_id: int) -> bool:
    """Whether ``batch_id`` is a re-delivery under a key whose last
    committed batch id is ``last`` (``None``: none committed)."""
    return last is not None and batch_id <= last


def committed_batch_sink(
    sink: Callable[[DataFrame, int], None], commit_dir: str, checkpoint: str
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch sink with a batch commit log in ``commit_dir``
    (which holds nothing else): skip a batch id committed under
    :func:`lineage_key` of the directory's name and ``checkpoint``;
    else run ``sink``, then write the marker ``<batch_id>.committed``
    holding the key (atomic tmp+rename).  For true cross-system
    atomicity the marker write and the sink's write must share a failure
    domain (same object store / same DB transaction)."""
    os.makedirs(commit_dir, exist_ok=True)
    sink_id = os.path.basename(os.path.normpath(commit_dir))

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        key = lineage_key(sink_id, checkpoint=checkpoint)
        # a marker below batch_id cannot make it a re-delivery: skip reads
        later = [
            int(stem)
            for stem, ext in map(os.path.splitext, os.listdir(commit_dir))
            if ext == ".committed"
            and int(stem) >= batch_id
            and Path(commit_dir, stem + ext).read_text() == key
        ]
        if batch_committed(max(later, default=None), batch_id):
            return  # re-delivery of a batch the sink already saw
        sink(batch_df, batch_id)
        marker = os.path.join(commit_dir, f"{batch_id}.committed")
        Path(marker + ".tmp").write_text(key)
        os.replace(marker + ".tmp", marker)

    return wrapped


def transactional_foreach_batch(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    timeout_sec: float = 300.0,
):
    """Exactly-once delivery through a lineage-bound sink — the engine's
    analogue of the reference's Kafka transactions
    (``processing_guarantee='exactly_once'``,
    ``faust/types/settings/settings.py:1393``).

    Structured Streaming gives foreachBatch at-least-once delivery: a
    crash between sink success and checkpoint commit re-runs the batch
    with the SAME batch_id.  Each sink below skips a batch id at or
    below the last one committed under its :func:`lineage_key`; build
    the one whose guarantee is wanted, with this ``checkpoint``:

    - :func:`committed_batch_sink`: any sink, directory markers;
    - ``kafka_eos.kafka_transactional_batch_sink``: Kafka, whole-batch
      atomicity (one driver-side transaction);
    - ``kafka_eos.kafka_transactional_partition_sink``: Kafka,
      per-partition atomicity (rows never cross the driver).
    """
    drain(
        df.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint),
        "transactional_foreach_batch",
        timeout_sec,
    )


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
        drain(writer, "take_buffers", timeout_sec)
        return buffers
    # a timed run, not a drain: the processing-time trigger never ends
    # on its own, so the timeout is the run length
    q = writer.trigger(processingTime=f"{within} seconds").start()
    try:
        q.awaitTermination(timeout_sec)
    finally:
        q.stop()
    return buffers


__all__ = [
    "stream_parquet",
    "write_ordered",
    "state_partitions",
    "shuffle_partitions",
    "drain",
    "run_to_memory",
    "cdc_export",
    "exactly_once_parquet_sink",
    "lineage_key",
    "batch_committed",
    "committed_batch_sink",
    "transactional_foreach_batch",
    "take_buffers",
]
