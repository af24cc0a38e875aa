"""Streaming LiveCheck audit: incremental execution/signal reconciliation.

The batch evaluator (faust_spark/livecheck.py evaluate_executions)
answers "did every tracked order see its signals in time" over logs at
rest. This module answers it CONTINUOUSLY: executions and signals
arrive interleaved on a stream, each tracked order is decided exactly
once — PASS/FAIL the moment it completes, TIMEOUT the moment the
event-time watermark passes its deadline — and pending state is
dropped on decision. This is the streaming analogue of the reference's
in-flight TestRunner table (faust/livecheck/app.py:323-353 keeps one
asyncio runner per pending test; here it is one keyed-state row per
pending execution, checkpointed, recovered on restart).

Semantics (identical to the batch evaluator, verified against the same
oracle):

- a signal counts iff it resolved by the execution's ``expires``;
  duplicates keep the first arrival; unregistered signal names and
  unregistered cases are ignored;
- PASS  — all expected signals in time (and in declaration order when
  ``require_order``); FAIL — complete but disordered;
- TIMEOUT — the watermark passed ``expires`` first (the event-time
  timer is armed at the deadline; an execution arriving with its
  deadline already behind the watermark is decided immediately);
- runtimes are exact integer-microsecond differences divided once.

Scale shape: state is one small row per PENDING execution (exec/expiry
micros + first-arrival map over the case's few signals), partitioned by
(test_id, case_name) — the same key the decided-verdict shuffle would
use. Signals arriving before their execution row are held in the same
state slot. Orphan signals whose execution never arrives hold state
until ``orphan_ttl_seconds`` past their newest signal (GC timer), so a
misrouted firehose cannot grow state unboundedly.

Two deliberate edges:

- an execution with a NULL deadline is kept PENDING forever (the batch
  evaluator's INIT), never decided — its state is GC'd on the orphan
  TTL without a verdict;
- decided keys leave a TOMBSTONE for ``orphan_ttl_seconds``: an
  at-least-once source redelivering the exec row after the verdict
  would otherwise re-create empty state past the deadline and emit a
  contradictory second TIMEOUT. One tombstone row per decided
  execution, GC'd on its own timer.
"""

from __future__ import annotations

import json
from typing import Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_OUT_SCHEMA = StructType(
    [
        StructField("test_id", StringType(), False),
        StructField("case_name", StringType(), False),
        StructField("state", StringType(), False),
        StructField("n_expected", LongType(), False),
        StructField("n_seen", LongType(), False),
        StructField("runtime_secs", DoubleType(), True),
    ]
)
# (exec_us or -1, expires_us or -1, json {signal_name: first_arrival_us})
_STATE_SCHEMA = StructType(
    [
        StructField("x", LongType(), False),
        StructField("e", LongType(), False),
        StructField("seen", StringType(), False),
    ]
)


def audit_state_partitions(n_rows: int) -> int:
    """State-store partition count for an audit replay of ``n_rows``
    unified (execution + signal) rows: one per 300 rows, at least 8, at
    most 32. Small replays want few partitions (the per-batch
    state-store task overhead dominates, and every micro-batch pays it
    again); large replays want the Arrow state work spread wide.

    Swept at sf0.1 (7.5k rows, 3 rounds, fresh checkpoints): 8
    partitions 5.1-5.3 s, 16 3.9-4.7 s, 24-25 3.8-4.4 s, 32 3.8-4.6 s.
    The rule lands on 8 at sf0.01 and 25 at sf0.1. Results are
    partitioning-invariant; the count binds at stream start through a
    fresh checkpoint."""
    return min(32, max(8, int(n_rows) // 300))


def audit_updates(
    grouped,
    case_signals: dict[str, list[str]],
    require_order: bool = False,
    orphan_ttl_seconds: float = 86400.0,
) -> DataFrame:
    """Keyed incremental audit over a unified execution/signal stream.

    ``grouped`` is ``unified.groupBy("test_id", "case_name")`` where
    ``unified`` carries (test_id string, case_name string, kind string
    'exec'|'sig', signal_name string, ts timestamp, expires timestamp)
    and a ``withWatermark("ts", ...)``. ``case_signals`` maps case name
    to its expected signal names in declaration (await) order — the
    same model-sized spec the batch evaluator broadcasts.

    Emits one decided row per tracked execution (schema of
    evaluate_executions, minus the never-emitted INIT: pending IS the
    state). Decisions are final: state is removed on emission.

    One timer per key: ``applyInPandasWithState`` keeps a single timeout
    per grouping key, and each ``setTimeoutTimestamp`` replaces the last.
    So the deadline timer, the orphan-signal GC timer and the tombstone
    expiry share one slot, and the state row decides which is armed: a
    pending execution with a known deadline arms the deadline; orphan
    signals and a NULL-deadline execution arm the GC horizon; a decided
    key arms its tombstone expiry. This is the operator's limit, recorded
    rather than worked around; an operator with several named timers per
    key (``transformWithStateInPandas``) would lift it.
    """
    orphan_ttl_us = int(orphan_ttl_seconds * 1_000_000)

    def _decide(
        key: Tuple[str, str], x: int, e: int, seen: dict[str, int]
    ) -> tuple[str, int, int, float | None] | None:
        """PASS/FAIL row fields if complete, else None."""
        expected = case_signals[key[1]]
        in_time = {n: us for n, us in seen.items() if us <= e}
        if len(in_time) < len(expected):
            return None
        arrivals = [in_time[n] for n in expected]
        ok = all(a <= b for a, b in zip(arrivals, arrivals[1:]))
        verdict = "PASS" if (ok or not require_order) else "FAIL"
        runtime = (max(arrivals) - x) / 1_000_000.0
        return (verdict, len(expected), len(in_time), runtime)

    def update(
        key: Tuple[str, str],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        case = key[1]
        if case not in case_signals:  # unregistered case: ignore
            if state.exists:
                state.remove()
            return
        expected = case_signals[case]

        orphan_ttl_ms = orphan_ttl_us // 1000

        def _tombstone() -> None:
            # remember the decided key for the redelivery horizon: an
            # at-least-once source may redeliver the exec row AFTER the
            # verdict; without the tombstone that re-creates empty state
            # and (deadline now behind the watermark) emits a spurious
            # second TIMEOUT. Bounded: one row per decided execution,
            # GC'd orphan_ttl past decision time.
            state.update((-2, -1, "{}"))
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + orphan_ttl_ms
            )

        if state.hasTimedOut:
            x, e, seen_json = state.get
            if x < 0 or e < 0:
                # tombstone expiry / orphan-signal GC / no-deadline GC:
                # nothing to report
                state.remove()
                return
            seen = json.loads(seen_json)
            n_seen = sum(1 for us in seen.values() if us <= e)
            _tombstone()
            yield pd.DataFrame(
                [
                    {
                        "test_id": key[0],
                        "case_name": case,
                        "state": "TIMEOUT",
                        "n_expected": len(expected),
                        "n_seen": n_seen,
                        "runtime_secs": None,
                    }
                ]
            )
            return

        if state.exists:
            x, e, seen_json = state.get
            if x == -2:  # already decided: swallow redeliveries
                state.setTimeoutTimestamp(
                    state.getCurrentWatermarkMs() + orphan_ttl_ms
                )
                return
            seen = json.loads(seen_json)
        else:
            x, e, seen = -1, -1, {}

        for pdf in pdfs:
            # numpy, not pandas, for the per-group conversions: this
            # function runs once per key per batch, and at thousands of
            # keys the fixed cost of pd.to_datetime/.loc/.dropna on a
            # 2-row frame dominates the batch (measured ~20× slower
            # than the numpy equivalents). to_numpy("datetime64[ns]")
            # pins the ns unit before the int view — pandas 2 keeps the
            # incoming Arrow unit, so a bare astype(int64) would yield
            # µs or ns depending on the conversion path.
            us = pdf["ts"].to_numpy(dtype="datetime64[ns]").view(
                "int64"
            ) // 1000
            kinds = pdf["kind"].to_numpy()
            names = pdf["signal_name"].to_numpy()
            for kind, name, t in zip(kinds, names, us):
                if kind == "exec":
                    if x < 0:  # first execution row wins
                        x = int(t)
                elif name in expected:  # first arrival wins
                    t = int(t)
                    if name not in seen or t < seen[name]:
                        seen[name] = t
            if "expires" in pdf.columns and x >= 0 and e < 0:
                expv = pdf["expires"].to_numpy(dtype="datetime64[ns]")
                # a NULL deadline must not become NaT→garbage µs
                mask = (kinds == "exec") & ~np.isnat(expv)
                if mask.any():
                    e = int(expv[mask].view("int64")[0] // 1000)

        if x >= 0 and e >= 0:
            decided = _decide(key, x, e, seen)
            if decided is not None:
                _tombstone()
                verdict, n_exp, n_seen, runtime = decided
                yield pd.DataFrame(
                    [
                        {
                            "test_id": key[0],
                            "case_name": case,
                            "state": verdict,
                            "n_expected": n_exp,
                            "n_seen": n_seen,
                            "runtime_secs": runtime,
                        }
                    ]
                )
                return
            # pending with a known deadline: arm the timer AT the
            # deadline — CEILED to ms so the timer can never fire while
            # the µs-precise deadline is still ahead of the watermark —
            # or decide now if the watermark already passed it
            # (setTimeoutTimestamp below the watermark throws)
            ems = -(-e // 1000)
            wm_ms = state.getCurrentWatermarkMs()
            if ems <= wm_ms:
                n_seen = sum(1 for us in seen.values() if us <= e)
                _tombstone()
                yield pd.DataFrame(
                    [
                        {
                            "test_id": key[0],
                            "case_name": case,
                            "state": "TIMEOUT",
                            "n_expected": len(expected),
                            "n_seen": n_seen,
                            "runtime_secs": None,
                        }
                    ]
                )
                return
            state.update((x, e, json.dumps(seen)))
            state.setTimeoutTimestamp(ems)
        else:
            # orphan signals held for their execution row — or an
            # execution with a NULL deadline, which the batch evaluator
            # keeps pending forever (INIT): never decide it here either,
            # just bound its state with the GC timer (fires silently)
            state.update((x, e, json.dumps(seen)))
            newest = max([x] + list(seen.values())) if (seen or x >= 0) else 0
            gc_ms = (newest + orphan_ttl_us) // 1000
            wm_ms = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(gc_ms, wm_ms + 1))

    return grouped.applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
