"""DFS-state compaction probe (VERDICT r8 item 7).

The streaming sketch states (``streaming/dfs_state.py``) compact by a
FULL rewrite of each shard's range: every ``compact_every`` batches
(one shard; ``shards=N`` staggers N smaller folds over the same cycle)
the shard's base and later delta slices fold into a new base and the
superseded files are pruned. Two costs scale with state size and
deserve measurement before anyone trusts them at 100x:

1. **compaction cost** — the fold reads O(state) and writes O(state)
   every ``compact_every`` batches (amortized O(state/compact_every)
   per batch, executed by executors as a distributed parquet rewrite,
   never on the driver);
2. **read fan-in** — every batch merges each shard's newest base plus
   at most ``compact_every - 1`` deltas (bounded by construction in
   ``_state_paths``: deltas older than every shard's newest base are
   pruned at compaction), so per-batch read cost is
   O(state + compact_every * delta)

This probe drives each DFS sink (bloom, cms, lsh) through 32 batches
at a base state size and at 10x that size, recording the per-batch
wall series split into compaction batches (ids 8/16/24 at the default
``compact_every=8``) and plain batches, plus the max delta fan-in
observed. The verdict criterion: compaction-batch cost grows ~with
state (linear rewrite), plain-batch cost stays bounded, fan-in never
exceeds ``compact_every``.

Usage: python tools/compaction_probe.py [--round 9] [--batches 32]
Writes artifacts/compaction_probe_r<N>.json.
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


def _fan_in(state_dir: str) -> int:
    """Version dirs currently contributing to a read (per-shard bases
    + deltas)."""
    return len(glob.glob(os.path.join(state_dir, "base*_v*"))) + len(
        glob.glob(os.path.join(state_dir, "delta_v*"))
    )


def drive(
    label: str, mk_wrapped, mk_batch, n_batches: int, shards: int = 1
) -> dict:
    work = tempfile.mkdtemp(prefix=f"compactprobe_{label}_")
    state = os.path.join(work, "state")
    wrapped = mk_wrapped(state)
    # sharded sinks compact on a STAGGERED schedule: shard s folds at
    # batches ≡ s*COMPACT_EVERY//shards (mod COMPACT_EVERY)
    offsets = {
        (s * COMPACT_EVERY) // shards for s in range(shards)
    }
    plain, compacting = [], []
    max_fan_in = 0
    for bid in range(n_batches):
        max_fan_in = max(max_fan_in, _fan_in(state))
        t0 = time.time()
        wrapped(mk_batch(bid), bid)
        dt = time.time() - t0
        is_compacting = bid != 0 and bid % COMPACT_EVERY in offsets
        (compacting if is_compacting else plain).append(dt)
    state_files_mb = sum(
        os.path.getsize(p)
        for p in glob.glob(
            os.path.join(state, "**", "*.parquet"), recursive=True
        )
    ) / (1 << 20)
    return {
        "label": label,
        "batches": n_batches,
        "plain_batch_mean_s": round(sum(plain) / len(plain), 3),
        "plain_batch_max_s": round(max(plain), 3),
        # None when --batches never crosses a COMPACT_EVERY boundary —
        # dividing would throw away the whole measured run
        "compact_batch_mean_s": (
            round(sum(compacting) / len(compacting), 3)
            if compacting
            else None
        ),
        "compact_batch_max_s": (
            round(max(compacting), 3) if compacting else None
        ),
        "compact_batches": len(compacting),
        "max_version_fan_in": max_fan_in,
        "state_mb": round(state_files_mb, 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=9)
    ap.add_argument("--batches", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from faust_spark.catalog import load_table
    from faust_spark.session import get_spark
    from faust_spark.streaming.dfs_state import (
        bloom_dedup_dfs_sink,
        cms_dfs_sink,
        lsh_dedup_dfs_sink,
    )

    spark = get_spark("compaction-probe")
    null_sink = lambda df, bid: df.count()  # noqa: E731 — force the plan

    rows = []

    # --- bloom: state = bitmap words relation; scale keys AND m_bits ---
    for scale, n_keys, m_bits in (("1x", 20_000, 1 << 21), ("10x", 200_000, 1 << 24)):

        def bloom_batch(bid, n=n_keys):
            # half-overlapping key ranges: state grows, dups suppressed
            lo = bid * n // 2
            return spark.range(lo, lo + n).select(
                F.concat(F.lit("k"), F.col("id")).alias("k")
            )

        rows.append(
            drive(
                f"bloom_{scale}",
                lambda s, m=m_bits: bloom_dedup_dfs_sink(
                    null_sink, "k", s, m_bits=m
                ),
                bloom_batch,
                args.batches,
            )
        )
        # r10: key-range-sharded compaction (shards=4) on the same
        # workload — per-event rewrite is O(state/shards); compare
        # compact_batch_* against the unsharded row above. The
        # compact-batch MEAN covers 4x as many (smaller) events, so
        # the stall metric is compact_batch_max vs the unsharded max.
        rows.append(
            drive(
                f"bloom_{scale}_sharded4",
                lambda s, m=m_bits: bloom_dedup_dfs_sink(
                    null_sink, "k", s, m_bits=m, shards=4
                ),
                bloom_batch,
                args.batches,
                shards=4,
            )
        )

    # --- cms: state = d x width cells; scale width AND keys ------------
    for scale, n_keys, width in (("1x", 20_000, 1 << 10), ("10x", 200_000, 1 << 13)):

        def cms_batch(bid, n=n_keys):
            return spark.range(n).select(
                F.concat(
                    F.lit("u"), (F.col("id") % (n // 4)).cast("string")
                ).alias("k")
            )

        rows.append(
            drive(
                f"cms_{scale}",
                lambda s, w=width: cms_dfs_sink("k", s, width=w),
                cms_batch,
                args.batches,
            )
        )

    # --- lsh: state = bucket claims ~ distinct docs; scale docs/batch --
    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    doc_rows = docs.limit(2500).collect()
    texts = [r.text for r in doc_rows]

    for scale, per_batch in (("1x", 250), ("10x", 2500)):

        def lsh_batch(bid, n=per_batch):
            # nondecreasing ids across batches (the sink's contract);
            # texts cycle but ids are fresh, so bucket claims accumulate.
            # pandas -> Arrow re-entry: a Python-list createDataFrame
            # plans a slow local relation (see verify-skill note)
            import pandas as pd

            base = bid * n
            return spark.createDataFrame(
                pd.DataFrame(
                    {
                        "doc_id": range(base, base + n),
                        "text": [
                            texts[(base + i) % len(texts)]
                            for i in range(n)
                        ],
                    }
                )
            )

        rows.append(
            drive(
                f"lsh_{scale}",
                lambda s: lsh_dedup_dfs_sink(null_sink, s),
                lsh_batch,
                args.batches,
            )
        )

    out = {
        "compact_every": COMPACT_EVERY,
        "batches": args.batches,
        "rows": rows,
    }
    path = f"artifacts/compaction_probe_r{args.round}.json"
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
