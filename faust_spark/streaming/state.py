"""Keyed table state: faust's ``table[k] += v`` and ``table[k] = f(...)``.

Counters (:func:`stateful_counter`, :func:`stateful_counts`) are native
update-mode streaming aggregations: the state store holds the aggregation
buffer and no Python worker runs. The reference's Table also allows any
Python reduction per key (SURVEY §2.4); that arbitrary state
(:func:`reduce_by_key`, :func:`session_tracker`) runs through
``applyInPandasWithState`` — Spark's keyed-state operator with checkpointed
state (the analogue of faust's RocksDB store + changelog, minus all the
recovery machinery).

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
    StringType,
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


def session_tracker(
    grouped,
    key_name: str,
    gap_seconds: float = 1800.0,
    ts_col: str = "ts",
    key_type=LongType(),
) -> DataFrame:
    """Per-key session detection with event-time TIMERS.

    The faust idiom this replaces: a table holding per-key session state
    plus the cleanup timer firing ``on_window_close`` when a key goes
    quiet. Here ``GroupStateTimeout.EventTimeTimeout`` is the timer: each
    batch (re)arms the timeout at ``last_event + gap``; when the watermark
    passes it with no new data, the callback fires with ``hasTimedOut``
    and the closed session is emitted exactly once. A gap *within* a
    batch's data closes the previous session inline.

    Input must carry ``withWatermark(ts_col, ...)``. Emits
    (key, session_start, session_end, cnt) per CLOSED session.
    """
    import datetime as _dt

    out_schema = StructType(
        [
            StructField(key_name, key_type, False),
            StructField("session_start", StringType(), False),
            StructField("session_end", StringType(), False),
            StructField("cnt", LongType(), False),
        ]
    )
    # state: (start_epoch_us, end_epoch_us, count)
    state_schema = StructType(
        [
            StructField("s", LongType(), False),
            StructField("e", LongType(), False),
            StructField("c", LongType(), False),
        ]
    )
    gap_us = int(gap_seconds * 1_000_000)

    def _fmt(us: int) -> str:
        return _dt.datetime.utcfromtimestamp(us / 1e6).strftime(
            "%Y-%m-%d %H:%M:%S"
        )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            s, e, c = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        key_name: key[0],
                        "session_start": _fmt(s),
                        "session_end": _fmt(e),
                        "cnt": c,
                    }
                ]
            )
            return
        ts_list = []
        for pdf in pdfs:
            ts_list.extend(
                int(t.value // 1000) for t in pd.to_datetime(pdf[ts_col])
            )
        ts_list.sort()
        closed = []
        if state.exists:
            s, e, c = state.get
        else:
            s = e = ts_list[0]
            c = 0
        for t in ts_list:
            if c > 0 and t - e > gap_us:
                closed.append((s, e, c))
                s, c = t, 0
            e = max(e, t)
            c += 1
        state.update((s, e, c))
        state.setTimeoutTimestamp(e // 1000 + int(gap_us // 1000))
        if closed:
            yield pd.DataFrame(
                [
                    {
                        key_name: key[0],
                        "session_start": _fmt(cs),
                        "session_end": _fmt(ce),
                        "cnt": cc,
                    }
                    for cs, ce, cc in closed
                ]
            )

    return grouped.applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


__all__ = [
    "stateful_counter",
    "stateful_counts",
    "reduce_by_key",
    "session_tracker",
]
