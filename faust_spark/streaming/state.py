"""Keyed table state: faust's ``table[k] += v`` and ``table[k] = f(...)``.

Counters (:func:`stateful_counter`, :func:`stateful_counts`) are native
update-mode streaming aggregations: the state store holds the aggregation
buffer and no Python worker runs. The reference's Table also allows any
Python reduction per key (SURVEY §2.4); that arbitrary state
(:func:`reduce_by_key`) runs through ``applyInPandasWithState`` — Spark's
keyed-state operator with checkpointed state (the analogue of faust's
RocksDB store + changelog, minus all the recovery machinery).

Sessions need no Python state: the faust idiom of a per-key session table
plus a cleanup timer firing ``on_window_close`` is a native
``F.session_window`` aggregation in append mode under a watermark. The
state store holds each open session, and the engine emits it once, when
the watermark passes its last event plus the gap
(``tests/test_session_windows.py`` pins restart recovery and closing; the
``stream_session_windows`` gate checks the sessions against the oracle).

Emission pattern: every batch emits each updated key's *cumulative* state
(update-mode semantics). Readers that want only the final value take
``max`` / ``last`` per key — cheap, batching-invariant, and exactly how
faust table reads see "current value as of now".
"""

from __future__ import annotations

from typing import Callable, Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def stateful_counter(
    grouped,
    key_name: str,
    count_alias: str = "cnt",
    sum_col: str | None = None,
    sum_alias: str = "total",
) -> DataFrame:
    """Cumulative per-key counter/summer over a grouped stream — faust's
    ``table[k] += v``, as a native streaming aggregation.

    ``grouped`` is ``df.groupBy(key)``; emits (key_name, cnt[, total]) with
    each updated key's cumulative values per batch in update mode. State is
    the aggregation buffer in the state store (count plus decimal sum), kept
    under codegen with no Python worker.

    Sums accumulate as ``decimal(18,2)`` (the fixtures carry 2-decimal
    currency values): exact, order-independent, and the same expression as
    the decimal-sum oracle — float accumulation would drift in the last ulp.
    """
    aggs = [F.count(F.lit(1)).alias(count_alias)]
    if sum_col is not None:
        aggs.append(
            F.sum(F.col(sum_col).cast("decimal(18,2)"))
            .cast("double")
            .alias(sum_alias)
        )
    out = grouped.agg(*aggs)
    return out.withColumnRenamed(out.columns[0], key_name)


def stateful_counts(
    grouped,
    keys: Iterable[str],
    count_alias: str = "cnt",
) -> DataFrame:
    """Cumulative counter over a COMPOSITE key — the windowed-Table shape
    ``table[(k, window)] += 1`` (faust keys windowed tables by
    (key, window range); here the window bucket is just another grouping
    column, e.g. a day derived from event time).

    ``grouped`` is ``df.groupBy(*keys)``; ``keys`` names the output's key
    columns, in the same order. Every batch emits each updated composite
    key's cumulative count (update-mode semantics — readers take ``max``
    per key for the final value, batching-invariant like
    :func:`stateful_counter`).
    """
    return grouped.agg(F.count(F.lit(1)).alias(count_alias)).toDF(
        *keys, count_alias
    )


def reduce_by_key(
    grouped,
    value_col: str,
    reducer: Callable[[float, float], float],
    key_name: str,
    key_type=LongType(),
    alias: str = "value",
    initial: float = 0.0,
) -> DataFrame:
    """Generic faust-style reducer: state[k] = reduce(reducer, values).

    The reducer runs over Arrow batches per key — per-batch Python cost is
    amortized across the batch, per-event cost is a float fold.
    """
    out_schema = StructType(
        [
            StructField(key_name, key_type, False),
            StructField(alias, DoubleType(), False),
        ]
    )
    state_schema = StructType([StructField("v", DoubleType(), False)])

    def update(key, pdfs, state: GroupState):
        v = state.get[0] if state.exists else initial
        for pdf in pdfs:
            for x in pdf[value_col]:
                v = reducer(v, float(x))
        state.update((v,))
        yield pd.DataFrame([{key_name: key[0], alias: v}])

    return grouped.applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__ = [
    "stateful_counter",
    "stateful_counts",
    "reduce_by_key",
]
