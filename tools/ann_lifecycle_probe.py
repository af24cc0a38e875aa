"""ANN index lifecycle scale probe (r13).

The claim under test: ``append_ann_index`` costs one pass over the
BATCH, not the corpus — so appending a fixed batch to a 10x-bigger
index should take ~the same time (the daily-ingest property that makes
an index artifact viable at 100 TB). Alongside it: build should grow
~linearly (it IS a corpus pass), delete grows with the index scan it
performs to locate victims (cheap constant), and compact with the
affected cells' row counts.

Method: embeddings at sf0.1 as the 1x corpus; the Nx corpus is N
id-shifted replicas, both written to parquet first (builds read from
disk either way). The SAME fresh 200-row batch is appended to each
index, 20 of its ids deleted, the index compacted, then a 10-query
serve. Quantizer params are held FIXED (n_cells=16) so corpus size is
the only variable — at a real 10x growth n_cells would scale ~sqrt(n),
which only helps (smaller cells to append into / compact).

Usage: python tools/ann_lifecycle_probe.py [--mult 10]
Prints one JSON line; run on an IDLE box (timing artifact).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from faust_spark.catalog import load_table
    from faust_spark.operators.similarity import (
        append_ann_index,
        build_ivf_index,
        compact_ann_index,
        delete_from_ann_index,
        ivf_index_topk,
    )
    from faust_spark.session import get_spark

    spark = get_spark("ann-lifecycle-probe")
    spark.range(32).mapInPandas(lambda it: it, "id long").collect()
    emb = load_table(spark, args.base, "embeddings")

    tmp = tempfile.mkdtemp(prefix="ann_lifecycle_probe_")
    corpora = {}
    for mult in (1, args.mult):
        p = os.path.join(tmp, f"corpus_{mult}x")
        reps = [
            emb.select(
                (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                "embedding",
            )
            for i in range(mult)
        ]
        df = reps[0]
        for r in reps[1:]:
            df = df.unionByName(r)
        df.write.mode("overwrite").parquet(p)
        corpora[mult] = p

    batch = emb.filter(F.col("vec_id") < 200).select(
        (F.col("vec_id") + F.lit(900_000_000)).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    victims = [900_000_000 + i for i in range(20)]

    # discarded warm-up lifecycle: the first pass through each verb pays
    # JIT/codegen compilation that would otherwise inflate whichever
    # corpus size happens to run first (the initial run of this probe
    # measured every 10x ratio BELOW 1.0 for exactly that reason)
    wpath = os.path.join(tmp, "warmup_idx")
    wcorpus = spark.read.parquet(corpora[1])
    build_ivf_index(wcorpus, wpath, n_cells=16, iters=2)
    append_ann_index(spark, wpath, batch)
    delete_from_ann_index(spark, wpath, victims)
    compact_ann_index(spark, wpath)
    ivf_index_topk(spark, wpath, wcorpus, queries, k=5, nprobe=4).collect()

    out: dict = {"mult": args.mult, "base": args.base, "timings": {}}
    for mult, cpath in corpora.items():
        corpus = spark.read.parquet(cpath)
        idx = os.path.join(tmp, f"idx_{mult}x")
        t: dict = {}
        t0 = time.time()
        build_ivf_index(corpus, idx, n_cells=16, iters=2)
        t["build"] = round(time.time() - t0, 3)
        t0 = time.time()
        append_ann_index(spark, idx, batch)
        t["append"] = round(time.time() - t0, 3)
        t0 = time.time()
        delete_from_ann_index(spark, idx, victims)
        t["delete"] = round(time.time() - t0, 3)
        t0 = time.time()
        compact_ann_index(spark, idx)
        t["compact"] = round(time.time() - t0, 3)
        t0 = time.time()
        ivf_index_topk(spark, idx, corpus, queries, k=5, nprobe=4).collect()
        t["serve"] = round(time.time() - t0, 3)
        out["timings"][f"{mult}x"] = t
    a, b = out["timings"]["1x"], out["timings"][f"{args.mult}x"]
    out["ratios"] = {
        k: (round(b[k] / a[k], 2) if a[k] else None) for k in a
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
