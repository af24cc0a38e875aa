"""Lineage cuts for operators that reuse an intermediate.

Several operators (shingle tables, CC edge lists, corpus stats, every
iterative loop's invariants and round iterates) compute a relation once
and feed it to multiple downstream consumers. :func:`materialize` always
CHECKPOINTS: the result is computed once and its lineage truncated, so
an iterative loop's plan depth stays constant in its round count, and a
rewrite can never read from the files it overwrites.

``spark.faust_spark.materialize`` picks where the checkpoint lives:

- ``"local"`` (default): ``localCheckpoint`` — blocks release on GC (no
  persist leak); fastest, for single-tenant / static-allocation clusters
  and local runs. The blocks are NON-REPLICATED, so losing an executor
  (or dynamic allocation reclaiming one) mid-job makes the job
  unrecoverable: the truncated lineage cannot recompute them.
- ``"reliable"``: ``DataFrame.checkpoint`` to the SparkContext checkpoint
  dir (set ``spark.sparkContext.setCheckpointDir`` to a DFS path first)
  — survives executor loss; the setting for dynamic allocation.

The knob is read per call, so a long-lived session can switch modes
between jobs.

A LAZY checkpoint (``eager=False``) is not free at call time: building
it plans the query to an RDD, and under AQE that runs every shuffle
stage beneath it there and then. Only the final, shuffle-free stage
waits for the first action over the result.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

from faust_spark.session import conf_set

_VALID = ("local", "reliable")

#: serializes the AQE on/off/restore window in materialize_partitioned —
#: the conf is session-global, so two interleaved callers could each read
#: the other's "off" as the value to restore and leave AQE disabled for
#: every later query in the session
_AQE_TOGGLE_LOCK = threading.Lock()


def _strategy(df: DataFrame) -> str:
    try:
        s = df.sparkSession.conf.get(
            "spark.faust_spark.materialize", "local"
        )
    except Exception:
        s = "local"
    if s not in _VALID:
        raise ValueError(
            f"spark.faust_spark.materialize must be one of {_VALID}, got {s!r}"
        )
    return s


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Checkpoint ``df`` — cut its lineage — where the session's
    strategy says (see module docstring). A lazy checkpoint
    (``eager=False``) defers only the last stage to the first action
    over it: under AQE every shuffle stage beneath it runs in this
    call."""
    if _strategy(df) == "reliable":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def materialize_partitioned(
    df: DataFrame,
    *key_cols: str,
    num_partitions: int = None,
    eager: bool = True,
) -> DataFrame:
    """Checkpoint ``df`` hash-partitioned by ``key_cols`` with the
    partitioning VISIBLE to downstream plans.

    The trap this exists for (found r11): under AQE,
    ``df.repartition(k).localCheckpoint()`` loses its output
    partitioning — ``AdaptiveSparkPlanExec`` reports unknown
    partitioning to the ``LogicalRDD`` wrapper, so every later join or
    aggregation on ``k`` re-exchanges the checkpointed relation. For a
    loop-invariant edge list that is a per-iteration |E| shuffle the
    r10 design believed it had removed. Disabling AQE for just the
    checkpoint-building query (a bare repartition — AQE has nothing to
    optimize there) makes ``LogicalRDD`` carry ``HashPartitioning``,
    and downstream AQE-on queries then satisfy their clustering
    requirements without an Exchange (verified by plan tests).

    ``num_partitions`` defaults to ``spark.sql.shuffle.partitions`` so
    the preserved partitioning is co-partitionable with the exchanges
    Catalyst inserts on the other (|V|-sized) join sides.
    """
    spark = df.sparkSession
    n = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    rep = df.repartition(n, *[df[c] for c in key_cols])
    # the toggle window is held under a lock: the conf is session-global,
    # and without it a second caller entering between set and restore
    # reads "false" as its restore value — AQE would stay off for the
    # rest of the session. Queries planned by OTHER threads during the
    # window still lose AQE for that one plan (unavoidable with a global
    # conf); the lock guarantees the setting always RESTORES correctly.
    with _AQE_TOGGLE_LOCK, conf_set(spark, "spark.sql.adaptive.enabled", "false"):
        return materialize(rep, eager=eager)


def loop_partitions(
    spark,
    n_rows: int,
    rows_per_partition: int = 250_000,
    floor: int = 8,
) -> int:
    """Partition-count RULE for loop-invariant checkpoint relations
    (rules-not-constants, DEPLOYMENT.md "Parameter scaling discipline").

    A checkpointed loop invariant keeps its partition count for every
    round's map-side scan — AQE can coalesce post-shuffle partitions
    but cannot merge checkpoint blocks without a new exchange. Sizing
    the checkpoint by ``spark.sql.shuffle.partitions`` alone means a
    1.6k-node graph scans 32 near-empty blocks per stage per round;
    sizing by rows means: one partition per ``rows_per_partition``
    rows, floored at ``floor`` (keep some parallelism), capped at the
    session's ``shuffle.partitions`` — at cluster scale the admin's
    configured width governs exactly as before, the rule only prevents
    tiny-relation overpartitioning.

    The cap applies AFTER the floor: a result above the session width
    would break co-partitioning with the Catalyst-inserted exchanges
    on the loop's |V| sides (their width is the session conf), and a
    mismatched join side re-exchanges the checkpointed relation — the
    exact per-round |E| shuffle this rule exists to prevent (caught by
    the round-plan pins when a session ran with shuffle.partitions=4).
    """
    import math

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(
        default,
        max(floor, math.ceil(max(int(n_rows), 1) / rows_per_partition)),
    )


#: DDL scalar type → pyarrow type for :func:`local_rows`
_PA_SCALARS = {
    "int": "int32",
    "integer": "int32",
    "bigint": "int64",
    "long": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "boolean": "bool_",
}


def local_rows(spark, rows, ddl: str):
    """Model-sized literal relation (centroids, codebooks, offsets,
    sketches) as a pure-JVM ``LocalTableScan`` via a pyarrow Table.

    ``spark.createDataFrame(list_of_rows, ddl)`` plans a Python-runner
    ``Scan ExistingRDD`` that re-pickles and re-evaluates the rows in a
    Python worker on EVERY action — measured ~0.35-0.4s of fixed cost
    per action in this container, multiplied by iteration count in the
    k-means / PQ fit loops (guide §4: eliminate the Python boundary).
    A pyarrow Table ingests through Arrow once at plan time and becomes
    a ``LocalTableScan`` independent of the session's
    ``spark.sql.execution.arrow.pyspark.enabled`` setting (verified on
    a vanilla driver session), so later actions never touch Python.
    Values are bit-identical: ints and IEEE doubles pass through Arrow
    unchanged.

    ``ddl`` supports the scalar types above plus one-level
    ``array<scalar>``. Any pyarrow failure (missing dep, odd values)
    falls back to the plain ``createDataFrame(rows, ddl)`` path, which
    is always correct — this helper is an optimization, not a contract.
    """
    try:
        import pyarrow as pa

        names, arrays = [], []
        for idx, field in enumerate(_split_ddl(ddl)):
            name, typ = field.strip().split(None, 1)
            typ = typ.strip().lower()
            if typ.startswith("array<") and typ.endswith(">"):
                patype = pa.list_(
                    getattr(pa, _PA_SCALARS[typ[6:-1].strip()])()
                )
            else:
                patype = getattr(pa, _PA_SCALARS[typ])()
            names.append(name)
            arrays.append(pa.array([r[idx] for r in rows], patype))
        return spark.createDataFrame(
            pa.table(dict(zip(names, arrays)))
        )
    except Exception:
        return spark.createDataFrame(rows, ddl)


def _split_ddl(ddl: str) -> list:
    """Split a DDL column list on commas not nested inside array<...>."""
    out, depth, cur = [], 0, []
    for ch in ddl:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


__all__ = [
    "materialize",
    "materialize_partitioned",
    "loop_partitions",
    "local_rows",
]
