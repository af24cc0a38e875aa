"""LiveCheck audit queries (reference faust/livecheck/): the scale path
reconciles EVERY tracked execution against the resolved-signal log
(faust_spark/livecheck.py evaluate_executions/signal_latencies), in batch
and through keyed streaming state.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faust_spark.queries import _q, _t


# Fixture derived from the events table: each user's first signup
# opens two tracked executions — case 'purchase_flow' (signals
# order_sent=first later click, order_confirmed=first later purchase,
# TTL 72 h, order-asserted) and case 'engagement' (signal seen=first
# later view, TTL 24 h). Real PASS / FAIL (confirmed-before-sent) /
# TIMEOUT (signal after TTL or never) mix at every SF.


def _livecheck_fixture(spark: SparkSession, sf_dir: str):
    ev = _t(spark, sf_dir, "events")
    base = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("exec_ts"))
    )
    test_id = F.col("user_id").cast("string").alias("test_id")
    execs = base.select(
        test_id,
        F.lit("purchase_flow").alias("case_name"),
        F.col("exec_ts").alias("ts"),
        (F.col("exec_ts") + F.expr("INTERVAL 72 HOURS")).alias("expires"),
    ).unionByName(
        base.select(
            test_id,
            F.lit("engagement").alias("case_name"),
            F.col("exec_ts").alias("ts"),
            (F.col("exec_ts") + F.expr("INTERVAL 24 HOURS")).alias(
                "expires"
            ),
        )
    )
    sigs = (
        ev.filter(
            F.col("event_type").isin("click", "purchase", "view")
        )
        .join(base, "user_id")
        .filter(F.col("ts") > F.col("exec_ts"))
        .groupBy("user_id", "event_type")
        .agg(F.min("ts").alias("ts"))
        .select(
            test_id,
            F.when(F.col("event_type") == "view", "engagement")
            .otherwise("purchase_flow")
            .alias("case_name"),
            F.when(F.col("event_type") == "click", "order_sent")
            .when(F.col("event_type") == "purchase", "order_confirmed")
            .otherwise("seen")
            .alias("signal_name"),
            "ts",
        )
    )
    import pandas as _pd

    specs = spark.createDataFrame(
        _pd.DataFrame(
            _LIVECHECK_SPEC_ROWS,
            columns=["case_name", "signal_name", "sig_index"],
        ),
        "case_name string, signal_name string, sig_index int",
    )
    return execs, sigs, specs


# The LiveCheck case/signal declarations (model-sized, shared between the
# specs relation and the streaming gate's case_signals dict — one literal,
# two views, so they cannot drift).
_LIVECHECK_SPEC_ROWS = [
    ("purchase_flow", "order_sent", 0),
    ("purchase_flow", "order_confirmed", 1),
    ("engagement", "seen", 0),
]


_LIVECHECK_ORACLE_BASE = """
    base AS (
      SELECT user_id, MIN(ts) AS exec_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    execs AS (
      SELECT CAST(user_id AS VARCHAR) AS test_id,
             'purchase_flow' AS case_name, exec_ts AS ts,
             exec_ts + INTERVAL 72 HOUR AS expires,
             CAST(2 AS BIGINT) AS n_expected
      FROM base
      UNION ALL
      SELECT CAST(user_id AS VARCHAR), 'engagement', exec_ts,
             exec_ts + INTERVAL 24 HOUR, CAST(1 AS BIGINT)
      FROM base
    ),
    sigs AS (
      SELECT CAST(e.user_id AS VARCHAR) AS test_id,
             CASE WHEN e.event_type = 'view' THEN 'engagement'
                  ELSE 'purchase_flow' END AS case_name,
             CASE e.event_type WHEN 'click' THEN 'order_sent'
                  WHEN 'purchase' THEN 'order_confirmed'
                  ELSE 'seen' END AS signal_name,
             CASE e.event_type WHEN 'purchase' THEN 1
                  ELSE 0 END AS sig_index,
             MIN(e.ts) AS sig_ts
      FROM events e JOIN base b ON b.user_id = e.user_id
      WHERE e.event_type IN ('click', 'purchase', 'view')
        AND e.ts > b.exec_ts
      GROUP BY 1, 2, 3, 4
    )
"""


def _livecheck_oracle_recon(timeout_tail: str) -> str:
    """The shared execution/signal reconciliation SQL (intime window,
    per-test agg, verdict select). ``timeout_tail`` is the verdict
    branch for incomplete executions — the batch gate distinguishes
    TIMEOUT from still-pending INIT by its audit horizon; the streaming
    gate's sentinel guarantees every deadline has passed, so everything
    incomplete IS a timeout."""
    return f"""
    WITH {_LIVECHECK_ORACLE_BASE},
    intime AS (
      SELECT x.test_id, x.case_name, s.sig_index, s.sig_ts,
             s.sig_ts >= COALESCE(LAG(s.sig_ts) OVER (
                 PARTITION BY x.test_id, x.case_name
                 ORDER BY s.sig_index), s.sig_ts) AS ok
      FROM execs x JOIN sigs s USING (test_id, case_name)
      WHERE s.sig_ts <= x.expires
    ),
    agg AS (
      SELECT test_id, case_name, COUNT(*) AS n_seen,
             MAX(sig_ts) AS last_sig, BOOL_AND(ok) AS order_ok
      FROM intime GROUP BY 1, 2
    )
    SELECT x.test_id, x.case_name,
           CASE WHEN COALESCE(a.n_seen, 0) = x.n_expected
                     AND a.order_ok THEN 'PASS'
                WHEN COALESCE(a.n_seen, 0) = x.n_expected THEN 'FAIL'
                {timeout_tail} END AS state,
           x.n_expected,
           COALESCE(a.n_seen, 0) AS n_seen,
           CASE WHEN COALESCE(a.n_seen, 0) = x.n_expected
                THEN (epoch_us(a.last_sig) - epoch_us(x.ts))
                     / 1000000.0 END AS runtime_secs
    FROM execs x LEFT JOIN agg a USING (test_id, case_name)
    """


@_q(
    "livecheck_audit",
    _livecheck_oracle_recon(
        """WHEN x.expires <= TIMESTAMP '2025-12-31 00:00:00'
                     THEN 'TIMEOUT'
                ELSE 'INIT'"""
    ),
)
def livecheck_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LiveCheck batch audit — every tracked execution reconciled
    against the resolved-signal log (faust_spark/livecheck.py
    evaluate_executions; reference runner state machine
    faust/livecheck/runners.py:77-108). One hash shuffle on
    (test_id, case_name) shared by the signal group-by and the
    executions join; case specs broadcast; verdict and runtime are
    pure column expressions (runtime = exact integer-µs difference,
    one division — bit-identical to the oracle)."""
    from faust_spark.livecheck import evaluate_executions

    execs, sigs, specs = _livecheck_fixture(spark, sf_dir)
    out = evaluate_executions(
        execs,
        sigs,
        specs,
        as_of="2025-12-31 00:00:00",
        require_order=True,
    )
    return out.withColumn("n_seen", F.col("n_seen").cast("long"))


@_q(
    "livecheck_latency",
    f"""
    WITH {_LIVECHECK_ORACLE_BASE}
    SELECT s.case_name, s.signal_name,
           COUNT(*) AS n,
           MIN((epoch_us(s.sig_ts) - epoch_us(x.ts)) / 1000000.0)
             AS min_latency,
           MAX((epoch_us(s.sig_ts) - epoch_us(x.ts)) / 1000000.0)
             AS max_latency,
           CAST(SUM(CAST((epoch_us(s.sig_ts) - epoch_us(x.ts))
                         / 1000000.0 AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_latency
    FROM sigs s JOIN execs x USING (test_id, case_name)
    GROUP BY 1, 2
    """,
)
def livecheck_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-signal latency rollup (faust_spark/livecheck.py
    signal_latencies; reference TestReport.signal_latency,
    faust/livecheck/models.py:141): first-arrival latency per expected
    signal, late arrivals included, rolled up per (case, signal).
    Latencies are exact-µs-difference doubles, so min/max compare
    bit-identically and the sum accumulates in DECIMAL(18,6) (each
    latency is an exact multiple of 1 µs, so the decimal cast is
    lossless) before one cast to double."""
    from faust_spark.livecheck import signal_latencies

    execs, sigs, specs = _livecheck_fixture(spark, sf_dir)
    lat = signal_latencies(execs, sigs, specs)
    return lat.groupBy("case_name", "signal_name").agg(
        F.count("*").alias("n"),
        F.min("latency_secs").alias("min_latency"),
        F.max("latency_secs").alias("max_latency"),
        F.sum(F.col("latency_secs").cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_latency"),
    )


@_q(
    "livecheck_case_stats",
    f"""
    WITH rep AS ({_livecheck_oracle_recon(
        '''WHEN x.expires <= TIMESTAMP '2025-12-31 00:00:00'
                     THEN 'TIMEOUT'
                ELSE 'INIT' '''
    )}),
    bt AS (SELECT user_id, MIN(ts) AS exec_ts FROM events
           WHERE event_type = 'signup' GROUP BY user_id),
    wt AS (SELECT r.case_name, r.test_id, r.state, b.exec_ts AS ts,
                  r.runtime_secs
           FROM rep r JOIN bt b
             ON CAST(b.user_id AS VARCHAR) = r.test_id),
    g AS (SELECT *,
                 (epoch_us(ts) - epoch_us(LAG(ts) OVER (
                      PARTITION BY case_name
                      ORDER BY ts, test_id))) / 1000000.0 AS gap_secs
          FROM wt),
    lastpass AS (
      SELECT case_name, ts AS lts, test_id AS ltid
      FROM (SELECT case_name, ts, test_id,
                   ROW_NUMBER() OVER (PARTITION BY case_name
                                      ORDER BY ts DESC,
                                               test_id DESC) AS rn
            FROM wt WHERE state = 'PASS') WHERE rn = 1)
    SELECT g.case_name,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (g.state = 'PASS') AS n_pass,
           COUNT(*) FILTER (g.state = 'FAIL') AS n_fail,
           COUNT(*) FILTER (g.state = 'TIMEOUT') AS n_timeout,
           CAST(COUNT(*) FILTER (g.state = 'PASS') AS DOUBLE)
             / COUNT(*) AS pass_rate,
           COUNT(*) FILTER (l.lts IS NULL
                            OR (g.ts, g.test_id) > (l.lts, l.ltid))
             AS consecutive_failures,
           MAX(g.gap_secs) AS max_gap_secs,
           MAX(g.gap_secs) > 604800.0 AS stalled,
           MIN(g.runtime_secs) AS min_runtime,
           MAX(g.runtime_secs) AS max_runtime,
           CAST(SUM(CAST(g.runtime_secs AS DECIMAL(18,6)))
                AS DOUBLE) AS sum_runtime
    FROM g LEFT JOIN lastpass l USING (case_name)
    GROUP BY 1
    """,
)
def livecheck_case_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suite-level health rollup (faust_spark/livecheck.py case_stats;
    reference Case state machine counters — total_by_state,
    consecutive_failures, stall detection, runtime history,
    faust/livecheck/case.py:115-358) over the batch audit's decided
    reports: verdict counts with exact pass_rate, the trailing
    non-PASS run in execution-time order (struct comparison against
    the per-case last PASS — mirrored by the oracle's row-value
    comparison), max inter-execution gap as exact integer-µs
    differences with a one-week stall threshold, and
    DECIMAL-accumulated runtime rollups. One case_name shuffle shared
    by the window and the group-by."""
    from faust_spark.livecheck import case_stats, evaluate_executions

    execs, sigs, specs = _livecheck_fixture(spark, sf_dir)
    reports = evaluate_executions(
        execs,
        sigs,
        specs,
        as_of="2025-12-31 00:00:00",
        require_order=True,
    )
    with_ts = reports.join(
        execs.select("test_id", "case_name", "ts"),
        ["test_id", "case_name"],
    )
    return case_stats(with_ts, warn_stalled_after=604800.0)


@_q(
    "stream_livecheck_audit",
    _livecheck_oracle_recon("ELSE 'TIMEOUT'"),
)
def stream_livecheck_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """livecheck_audit executed INCREMENTALLY by the streaming engine
    (streaming/livecheck_audit.py audit_updates): executions and
    signals replay time-ordered across micro-batches; each tracked
    execution is decided exactly once — PASS/FAIL the batch it
    completes, TIMEOUT when the event-time timer at its deadline fires
    — and a far-future sentinel advances the final watermark past
    every deadline so the decided set covers all executions. The
    result must hash-match the BATCH evaluator's oracle: in-time
    signals always precede the watermark passing their deadline under
    time-ordered replay, so per-execution verdicts, n_seen, and exact
    integer-µs runtimes are batching-invariant."""
    from faust_spark.streaming.livecheck_audit import (
        audit_state_partitions,
        audit_updates,
    )
    from faust_spark.streaming.runner import (
        drain,
        shuffle_partitions,
        stream_parquet,
    )

    execs, sigs, specs = _livecheck_fixture(spark, sf_dir)
    unified = execs.select(
        "test_id",
        "case_name",
        F.lit("exec").alias("kind"),
        F.lit(None).cast("string").alias("signal_name"),
        "ts",
        "expires",
    ).unionByName(
        sigs.select(
            "test_id",
            "case_name",
            F.lit("sig").alias("kind"),
            "signal_name",
            "ts",
            F.lit(None).cast("timestamp").alias("expires"),
        )
    )
    with tempfile.TemporaryDirectory(prefix="lc_stream_") as work:
        src = os.path.join(work, "src")
        # Replay shape (r10, down from r8's two data batches): data AND
        # sentinel share ONE micro-batch. The initial watermark is unset
        # during it, so no deadline timer can fire before the in-time
        # signals it governs are processed and every complete execution is
        # decided PASS/FAIL there; the trailing no-data batch then carries
        # the watermark to sentinel−1s — past EVERY deadline (TTLs ≤ 72h,
        # sentinel = max ts + 80h) — and fires all TIMEOUT timers at once.
        # Batching-invariance makes this safe: per-execution state keeps
        # min-by-event-time first arrivals (row order within the batch is
        # irrelevant) and the fixture emits exactly one exec row per key,
        # so the verdict set hash-matches the batch oracle exactly as the
        # r8 three-batch replay did, at one fewer micro-batch and no
        # mtime-ordering sleep.
        # r14 (guide §1.2): hi/n_rows piggyback on the write job via
        # observe() — the r13 shape re-scanned the just-written file with a
        # second job for one MAX+COUNT (itself an r8 fix for re-running the
        # two-shuffle fixture lineage). Observed metrics see exactly the
        # written rows, so the values are identical; one fixture pass, not
        # two. (MAX/COUNT are retry-safe observe metrics: re-executed tasks
        # replace, not double-count, their partition's contribution.)
        from pyspark.sql import Observation

        obs = Observation("lc_fixture_stats")
        (
            unified.observe(
                obs,
                F.max("ts").alias("hi"),
                F.count(F.lit(1)).alias("n"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(src)
        )
        hi, n_rows = obs.get["hi"], obs.get["n"]
        # (no mtime-ordering sleep: both files ride one micro-batch, and
        # within a batch the state fn is row-order-invariant — see above)
        # sentinel = max fixture time + 80h: strictly past every deadline
        # (TTLs are <= 72h) at ANY scale factor, so the oracle's
        # everything-incomplete-is-TIMEOUT tail holds by construction — a
        # fixed far-future date would silently stop deciding executions
        # whose data outgrew it. Built JVM-side (range + literals): a
        # Python-object createDataFrame plans a Python-runner local scan
        # whose fixed cost is ~5s per action — measured, absurd for one row.
        (
            spark.range(1)
            .select(
                F.lit("__wm__").alias("test_id"),
                F.lit("__none__").alias("case_name"),
                F.lit("sig").alias("kind"),
                F.lit(None).cast("string").alias("signal_name"),
                (F.lit(hi) + F.expr("INTERVAL 80 HOURS")).alias("ts"),
                F.lit(None).cast("timestamp").alias("expires"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

        case_signals: dict = {}
        for case, sig, _idx in sorted(
            _LIVECHECK_SPEC_ROWS, key=lambda r: (r[0], r[2])
        ):
            case_signals.setdefault(case, []).append(sig)

        s = stream_parquet(spark, src, max_files_per_trigger=2).withWatermark(
            "ts", "1 second"
        )
        decided = audit_updates(
            s.groupBy("test_id", "case_name"),
            case_signals,
            require_order=True,
        )
        emitted: list = []
        # GATE-HARNESS ONLY collect; production writes decided verdicts to
        # a sink (the operator itself never collects).
        # State-store partitions sized to the fixture (r10 sweep in
        # audit_state_partitions); the setting binds at stream start via the
        # fresh checkpoint and is restored after.
        with shuffle_partitions(spark, audit_state_partitions(n_rows)):
            drain(
                decided.writeStream.foreachBatch(
                    lambda b, i: emitted.append(b.toPandas())
                )
                .outputMode("update")
                .option("checkpointLocation", os.path.join(work, "ckpt")),
                "stream_livecheck_audit",
                timeout_sec=600,
            )
    import pandas as _pd

    # re-enter Spark through the Arrow path (createDataFrame from a
    # pandas frame); the row-list form plans a Python-runner local scan
    # that costs seconds per downstream action
    out = _pd.concat(emitted, ignore_index=True)
    return spark.createDataFrame(
        out,
        "test_id string, case_name string, state string, "
        "n_expected long, n_seen long, runtime_secs double",
    )
