"""Streaming-gate 10x probe (VERDICT r10 item 7).

The batch surface has two-scale gate evidence (sf0.01 + sf0.1) and 4x/10x
scale probes; the three streaming gates were probed at 4x only. This
probe drives each streaming gate's ACTUAL operator path at sf0.1 and at
sf0.1 x ``--mult`` with PER-BATCH wall timing, answering the question the
verdict asks: does per-batch cost stay flat as batches accumulate state,
or is there a knee?

- ``stream_lsh_dedup`` / ``stream_embedding_dedup``: the DFS-sharded
  bucket-claim sinks (``streaming/dfs_state.py``) are driven
  synchronously — one ``wrapped(batch_df, bid)`` call per range
  partition of the (replicated) documents/embeddings tables, ids
  nondecreasing across batches per the sinks' ordering contract, exactly
  as the gates' FileStreamSource replay delivers them. Timing each call
  isolates the state-accumulation cost (band map + bucket claim join +
  delta write + scheduled compaction) from source-scan noise.
- ``stream_livecheck_audit``: ``applyInPandasWithState`` cannot be
  driven synchronously, so the fixture (scaled 10x via replicated
  events) replays as ``--batches`` time-ordered range partitions plus
  the far-future sentinel through a real availableNow query with
  ``maxFilesPerTrigger=1``; per-batch wall = successive foreachBatch
  completion-time deltas.

Flatness metric per series: mean of the last quarter of PLAIN (non-
compaction) batches / mean of the first quarter (batch 0 excluded as
warmup). ~1.0 = flat; a knee shows up as >>1 and the fix is the sinks'
``shards=`` staggered compaction (probed separately in
``compaction_probe.py``).

Usage: python tools/stream_probe.py [--mult 10] [--batches 16] [--round 11]
Writes artifacts/stream_probe_r<N>.json.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COMPACT_EVERY = 8


def _series_stats(times: list[float], compact_ids: set[int]) -> dict:
    plain = [t for i, t in enumerate(times) if i not in compact_ids]
    compacting = [t for i, t in enumerate(times) if i in compact_ids]
    # batch 0 pays plan/codegen warmup; exclude it from the flatness ends
    body = plain[1:] if len(plain) > 4 else plain
    q = max(1, len(body) // 4)
    head, tail = body[:q], body[-q:]
    return {
        "per_batch_s": [round(t, 3) for t in times],
        "plain_mean_s": round(sum(plain) / len(plain), 3),
        "plain_max_s": round(max(plain), 3),
        "compact_mean_s": (
            round(sum(compacting) / len(compacting), 3) if compacting else None
        ),
        "compact_max_s": (round(max(compacting), 3) if compacting else None),
        "flatness_tail_over_head": round(
            (sum(tail) / len(tail)) / (sum(head) / len(head)), 3
        ),
    }


def drive_banded(spark, label: str, mk_wrapped, src_dir: str) -> dict:
    """Synchronous per-batch drive of a banded bucket-claim sink over the
    range-partitioned part files under ``src_dir`` (ascending id ranges in
    ascending part-file names — the sinks' ordering contract)."""
    emitted = {"n": 0}

    def sink(df, bid):
        emitted["n"] += df.count()

    parts = sorted(glob.glob(os.path.join(src_dir, "part-*")))
    times = []
    with tempfile.TemporaryDirectory(prefix=f"streamprobe_{label}_") as work:
        state = os.path.join(work, "state")
        wrapped = mk_wrapped(sink, state)
        for bid, path in enumerate(parts):
            batch = spark.read.parquet(path)
            t0 = time.time()
            wrapped(batch, bid)
            times.append(time.time() - t0)
        state_mb = sum(
            os.path.getsize(p)
            for p in glob.glob(
                os.path.join(state, "**", "*.parquet"), recursive=True
            )
        ) / (1 << 20)
    compact_ids = {
        b for b in range(len(parts)) if b != 0 and b % COMPACT_EVERY == 0
    }
    return {
        "label": label,
        "batches": len(parts),
        "emitted": emitted["n"],
        "state_mb": round(state_mb, 2),
        **_series_stats(times, compact_ids),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--batches", type=int, default=16)
    ap.add_argument("--round", type=int, default=11)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from faust_spark.catalog import load_table
    from faust_spark.session import get_spark
    from faust_spark.streaming.dfs_state import (
        embedding_dedup_dfs_sink,
        lsh_dedup_dfs_sink,
    )

    spark = get_spark("stream-probe")

    # ---- replicated fixtures (same construction as scale_probe.py) ----
    docs = load_table(spark, args.base, "documents").select("doc_id", "text")
    n_docs = docs.count()
    emb = load_table(spark, args.base, "embeddings").select("vec_id", "embedding")
    n_emb = emb.count()
    ev = load_table(spark, args.base, "events")
    n_ev = ev.count()

    def docs_at(mult: int) -> "F.DataFrame":
        if mult == 1:
            return docs
        # perturbed text per replica: same-replica dup structure kept,
        # cross-replica pairs differ by a 24-char marker (scale_probe's
        # construction) — state (bucket claims) grows ~mult x
        return docs.crossJoin(
            spark.range(mult).select(F.col("id").alias("rep"))
        ).select(
            (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
            F.concat_ws(
                " ", F.col("text"), F.expr("repeat(char(97 + rep), 24)")
            ).alias("text"),
        )

    def emb_at(mult: int) -> "F.DataFrame":
        if mult == 1:
            return emb
        # EXACT copies: every replica is suppressed by its lower-id base
        # twin, so emitted stays ~flat while input and claim checks grow
        return emb.crossJoin(
            spark.range(mult).select(F.col("id").alias("rep"))
        ).select(
            (F.col("vec_id") + F.col("rep") * n_emb).alias("vec_id"),
            "embedding",
        )

    rows = []
    with tempfile.TemporaryDirectory(prefix="stream_probe_") as big:
        # ---- lsh + embedding sinks, 1x and mult-x, per-batch timed ----
        for scale, mult in (("1x", 1), (f"{args.mult}x", args.mult)):
            d_src = os.path.join(big, f"docs_{scale}")
            docs_at(mult).repartitionByRange(
                args.batches, "doc_id"
            ).write.parquet(d_src)
            rows.append(
                drive_banded(
                    spark,
                    f"stream_lsh_dedup_{scale}",
                    lambda s, st: lsh_dedup_dfs_sink(
                        s, st, compact_every=COMPACT_EVERY
                    ),
                    d_src,
                )
            )
            e_src = os.path.join(big, f"emb_{scale}")
            emb_at(mult).repartitionByRange(
                args.batches, "vec_id"
            ).write.parquet(e_src)
            rows.append(
                drive_banded(
                    spark,
                    f"stream_embedding_dedup_{scale}",
                    lambda s, st: embedding_dedup_dfs_sink(
                        s, st, compact_every=COMPACT_EVERY
                    ),
                    e_src,
                )
            )

        # ---- livecheck: real streaming query, N time-ordered batches --
        ev_dir = os.path.join(big, "events_big")
        (
            ev.crossJoin(
                spark.range(args.mult).select(F.col("id").alias("rep"))
            )
            .select(
                (F.col("event_id") + F.col("rep") * n_ev).alias("event_id"),
                (
                    F.col("ts") + F.make_interval(secs=F.col("rep") * 86400)
                ).alias("ts"),
                (F.col("user_id") + F.col("rep") * 1000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .write.parquet(os.path.join(ev_dir, "events.parquet"))
        )
        for scale, sf_dir in (("1x", args.base), (f"{args.mult}x", ev_dir)):
            rows.append(
                livecheck_probe(spark, entry, scale, sf_dir, args.batches)
            )

    out = {
        "mult": args.mult,
        "batches": args.batches,
        "note": (
            "per-batch wall series for the three streaming gates at sf0.1 "
            "and sf0.1 x mult. flatness_tail_over_head ~1.0 = per-batch "
            "cost does not grow as state accumulates; compaction batches "
            "(ids % 8 == 0) reported separately — their cost is O(state) "
            "by design, amortized O(state/compact_every) per batch, and "
            "shards= bounds the worst batch (compaction_probe.py)."
        ),
        "probes": rows,
    }
    path = f"artifacts/stream_probe_r{args.round}.json"
    with open(path, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    return 0


def livecheck_probe(spark, entry, scale: str, sf_dir: str, batches: int) -> dict:
    """stream_livecheck_audit's audit_updates replayed across ``batches``
    time-ordered micro-batches (the gate itself uses data+sentinel in 2;
    batching-invariance says the verdict set is identical — asserted via
    decided-row count) with per-batch completion timing."""
    from pyspark.sql import functions as F

    from faust_spark.streaming.livecheck_audit import (
        audit_state_partitions,
        audit_updates,
    )
    from faust_spark.streaming.runner import (
        drain,
        shuffle_partitions,
        stream_parquet,
        write_ordered,
    )

    execs, sigs, _specs = entry._livecheck_fixture(spark, sf_dir)
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
    case_signals: dict = {}
    for case, sig, _idx in sorted(
        entry._LIVECHECK_SPEC_ROWS, key=lambda r: (r[0], r[2])
    ):
        case_signals.setdefault(case, []).append(sig)
    marks: list[tuple[float, int]] = []

    def sink(b, i):
        marks.append((time.time(), b.count()))

    with tempfile.TemporaryDirectory(prefix=f"lcprobe_{scale}_") as work:
        src = os.path.join(work, "src")
        # time-ordered ranges, delivered in ts order (write_ordered):
        # the watermark rises monotonically and in-time signals precede
        # their deadline timers, the same contract the 2-batch gate
        # relies on. The sentinel, written after them, replays last.
        write_ordered(unified, src, batches, "ts")
        (hi, n_rows) = (
            spark.read.parquet(src).agg(F.max("ts"), F.count(F.lit(1))).first()
        )
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
        s = stream_parquet(spark, src, max_files_per_trigger=1).withWatermark(
            "ts", "1 second"
        )
        decided = audit_updates(
            s.groupBy("test_id", "case_name"), case_signals, require_order=True
        )
        with shuffle_partitions(spark, audit_state_partitions(n_rows)):
            start = time.time()
            drain(
                decided.writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", os.path.join(work, "ckpt")),
                f"livecheck probe {scale}",
                timeout_sec=1200,
            )
    times = []
    prev = start
    for t, _n in marks:
        times.append(t - prev)
        prev = t
    return {
        "label": f"stream_livecheck_audit_{scale}",
        "batches": len(marks),
        "fixture_rows": int(n_rows),
        "decided_rows": int(sum(n for _t, n in marks)),
        **_series_stats(times, set()),
    }


if __name__ == "__main__":
    raise SystemExit(main())
