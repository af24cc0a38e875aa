"""Scale probe: replicate fixtures N× and measure operator scaling.

Correctness gates run at sf0.01; this probe answers the other question —
does each operator's runtime grow ~linearly when the data does? Events are
replicated with shifted ids/timestamps (key cardinality and time span both
grow), documents with perturbed text (dup structure preserved per replica).

Usage: python tools/scale_probe.py [--mult 10]
Prints one JSON line: per-query seconds at 1x and Nx plus the ratio.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBES_EVENTS = [
    "counter_table",
    "tumbling_hourly",
    "session_windows",
    "interval_join_sliding",
    "asof_join",
    "stream_tumbling_hourly",
    "user_anomaly",  # one user-keyed exchange; replicas grow users AND days
    "funnel_conversion",  # stage joins share the user partitioning
    "zorder_layout",  # r4: 4-scalar agg + pure codegen Morton key
    "heavy_hitters_cms",  # r5: sketch-bounded shuffle, one pass
    "distinct_rollup_hll",  # r5: daily sketches + sketch-table union
    "scd2_lookup",  # r5: backward as-of, one user-keyed shuffle
    "audience_overlap_theta",  # r5: sketch agg + G^2 sketch pairs
    "value_quantiles_kll",  # r5: daily KLL + merged quantile contract
    "livecheck_audit",  # r6: one (test_id,case)-keyed shuffle, specs
    # broadcast; state per pending execution only
    "livecheck_case_stats",  # r6: reports rollup, one case-keyed shuffle
]
# pairwise doc ops: candidate sets grow super-linearly under replication
# (every replica pair is a planted near-dup), so the probe stays bounded
# at 4x and reads time against rows_ratio
PROBES_DOCS_PAIRWISE = [
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "edit_distance_pairs",  # PassJoin segment blocking (exact, r4)
    "dedup_incremental",  # batch x corpus join (replicas inflate overlap)
    "dedup_containment",  # r5: same equi-join shape, min-denominator
    "split_by_cluster",  # r6: jaccard pairs + components + hash split
    "dedup_jaccard_prefix",  # r6: PPJoin prefix filter — exact, capless
    "simhash_near_pairs",  # r9: pigeonhole chunk join; replica pairs
    # land at small Hamming distances so true output grows with C(mult,2)
    "stream_lsh_dedup",  # r9: micro-batch replay of the DFS bucket-claim
    # sink; replicas multiply both docs and band buckets
    "split_leakage_audit",  # r10: PPJoin pairs + projection split labels;
    # output stays <=9 rows but the pair relation under it grows C(mult,2)
]
# linear doc ops probe at the FULL multiplier (r3 verdict item 5: these
# previously probed at 4x or not at all)
PROBES_DOCS = [
    "simhash_fp",
    "repetition_stats",
    "ngram_contamination",
    "kn_logprob",  # r6: bigram-relation re-aggs, posting-shaped score join
    "doc_chunking",  # linear fan-out, no shuffle
    "shard_shuffle",  # per-shard parallel sorts
    "distinctive_terms",  # single shared term exchange
    "bm25_search",  # one scan + TakeOrdered: should be ~linear
    "hybrid_search",  # r4: one postings pass + per-query-bounded fusion
    "boilerplate_chunks",  # digest-only shuffles, shared exchange
    "stratified_sample",  # one stratum-keyed shuffle
    "temperature_mix",  # r4: group-count agg + broadcast p, linear scan
    "tokenize_ids",  # broadcast vocab; one doc-keyed reassembly exchange
    "remove_boilerplate",  # digest-only boilerplate set + ordered rebuild
    "vocab_build",  # term-keyed partial agg; rank over model-sized vocab
    "pii_redact",  # codegen regex: pure scan, no shuffle
    "unigram_logprob",  # term-keyed LM agg + posting-shaped score join
    "bigram_logprob",  # r4: (v,w)-keyed LM agg + posting-shaped join
    "dsir_score",  # r4: bucket-keyed aggs (256 buckets), weights broadcast
    "gopher_rules",  # rule battery: pure scan, no shuffle
    "multimodal_features",  # Arrow-batched narrow map over payloads
    "multimodal_resize",  # payload->payload narrow map
    "winnow_fingerprint",  # r4: per-doc sliding-min windows, linear
    "perplexity_buckets",  # r4: LM agg + banded cumulative histogram
    "substring_dedup",  # r4: window-hash agg + flag join, both hash-keyed
    "remove_dup_spans",  # r4: same shuffles + per-doc codegen cut
    "bloom_dedup_admit",  # r5: one corpus agg pass + broadcast bitmap
    "weighted_sample",  # r5: hash priorities, per-group rank window
    # (output is one row per doc; duplicate-bucket membership grows with
    # replicas but total window rows stay linear in corpus chars)
    "quality_logreg_fit",  # r6: 4 GD steps, one ungrouped agg pass each
    "quality_adaboost_fit",  # r6: 4 boosting rounds, one agg pass each
    "lang_nb_classify",  # r6: one count pass + posting-shaped score join
    "bpe_merges",  # r6: one corpus pass, then dictionary-sized merges
    "nb_eval",  # r8: (truth,pred) pair-count confusion agg (NL 12->3)
    "pack_sequences",  # r8: shard-partitioned running sum, no global window
]
# TPC-H graph/relational ops probed against replicated orders+lineitem
# (customers shifted per replica -> edge count grows x mult; suppliers
# shared -> in-degree grows, the realistic hub shape)
PROBES_TPCH = [
    "supplier_pagerank",  # r6: per-iteration scatter/gather is O(|E|)
    "supplier_hits",  # r6: two O(|E|) half-steps per iteration
    "purchase_communities",  # r6: |2E| votes + (node,label) agg per pass
    "trusted_supplier_ppr",  # r6: pagerank shapes + one seed semi-join
]
# embeddings replicate as EXACT copies, so embedding_dup_pairs' exact mode
# pays both more pairs and a bigger output — the honest quadratic cost of
# the sub-0.72 regime; the LSH probe below shows the near-dup-regime path.
# semantic_dedup's registered query derives its cell count from the
# corpus (k = max(8, ceil(n/250)), mirrored in the oracle) since round 3,
# so replicas that multiply the corpus also multiply cells and the
# within-cell quadratic term stays bounded — the round-2 fixed-k probe
# measured 66x at 10x, which is exactly what the auto-scaling prevents.
PROBES_EMB = [
    "ann_cosine_topk",
    "ann_lsh_topk",  # bucketed probe + multiprobe union (r4: at 10x)
    "ivf_topk",
    "ivf2_topk",  # hierarchical corpus assignment (r4)
    "ivfpq_topk",  # cell-pruned ADC over codes (r4)
    "embedding_dup_pairs",
    "semantic_dedup",
    "hard_negatives",  # r4: broadcast queries, linear scan by design
    "knn_label",  # r4: same shape + per-qid vote agg
    "mmr_rerank",  # r5: retrieval-bounded per-query Arrow greedy
    "hard_negatives_ivf",  # r6: cascade gate (IVF probe + label re-rank)
    "knn_label_ivf",  # r6: cascade vote gate (deeper nprobe=8)
    "kmeans_fit",  # r6: one scan + k*dim-bounded agg per Lloyd step
    "pq_ann_topk",  # r8: ADC scan under the single-exact-subtree contract
    "ivf_topk_serve",  # r8: serve path, exact subtree planned once
    "ivfpq_topk_serve",  # r8: PQ serve path, same contract
    "rp_topk",  # r9: JL shortlist now partial-top-k per batch before the
    # qid exchange (VERDICT r8 item 2); gate includes the recall contract
    "stream_embedding_dedup",  # r10: hyperplane-LSH bucket-claim replay;
    # replicas are EXACT vector copies, so every replica is suppressed
    # by its base twin and output stays ~flat while input grows
]


def _link(src: str, dst: str) -> None:
    """Idempotent symlink: replace an existing link so the probe is
    rerunnable against a warm temp dir (a bare os.symlink raises
    FileExistsError on the second run)."""
    if os.path.islink(dst) or os.path.exists(dst):
        os.remove(dst)
    os.symlink(src, dst)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument(
        "keys",
        nargs="*",
        help="probe only these query keys (default: all registered probes)",
    )
    args = ap.parse_args()
    only = set(args.keys) or None

    def wanted(key: str) -> bool:
        return only is None or key in only

    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from faust_spark.catalog import load_table
    from faust_spark.session import get_spark

    spark = get_spark("scale-probe")
    big = tempfile.mkdtemp(prefix="scale_probe_")

    # events: shift ids and timestamps per replica (more keys, longer span)
    ev = load_table(spark, args.base, "events")
    n_ev = ev.count()
    reps = spark.range(args.mult).select(F.col("id").alias("rep"))
    (
        ev.crossJoin(reps)
        .select(
            (F.col("event_id") + F.col("rep") * n_ev).alias("event_id"),
            (F.col("ts") + F.make_interval(secs=F.col("rep") * 86400)).alias("ts"),
            (F.col("user_id") + F.col("rep") * 1000).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(big, "events.parquet"))
    )
    # documents: perturb text per replica so dup structure stays constant.
    # Full multiplier for the linear ops; a bounded 4x copy for pairwise
    # ops whose candidate sets grow quadratically under replication.
    docs = load_table(spark, args.base, "documents")
    n_docs = docs.count()
    doc_mult = min(args.mult, 4)  # pairwise ops: keep the probe bounded

    def _write_docs(mult: int, dest: str) -> None:
        # Replica marker = 24 identical letters unique to the replica.
        # Same-replica doc pairs keep their base edit distance (equal
        # suffixes), but CROSS-replica pairs gain ~24 substitutions —
        # past edit_distance_pairs' k=10 — so the true lev<=k pair set
        # grows ~linearly (mult x base pairs) and the probe ratio
        # measures COMPUTE scaling, not planted-pair output volume.
        # (The old " repN" suffix made every cross-replica pair a
        # near-dup: output 134x at 4x swamped the timing signal.)
        # Token-level ops see exactly one appended token either way.
        (
            docs.crossJoin(spark.range(mult).select(F.col("id").alias("rep")))
            .select(
                (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.col("text"),
                    F.expr("repeat(char(97 + rep), 24)"),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            .write.mode("overwrite")
            .parquet(dest)
        )

    _write_docs(args.mult, os.path.join(big, "documents.parquet"))
    big_docs4 = os.path.join(big, "docs4")
    os.makedirs(big_docs4, exist_ok=True)
    _write_docs(doc_mult, os.path.join(big_docs4, "documents.parquet"))
    for t in ("region nation customer supplier part orders lineitem "
              "events embeddings").split():
        _link(
            os.path.join(big, f"{t}.parquet")
            if t == "events"
            else os.path.join(args.base, f"{t}.parquet"),
            os.path.join(big_docs4, f"{t}.parquet"),
        )
    emb = load_table(spark, args.base, "embeddings")
    n_emb = emb.count()
    (
        emb.crossJoin(spark.range(args.mult).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") + F.col("rep") * n_emb).alias("vec_id"),
            "embedding",
            "label",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(big, "embeddings.parquet"))
    )
    # pass-through for the remaining tables
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        _link(
            os.path.join(args.base, f"{t}.parquet"),
            os.path.join(big, f"{t}.parquet"),
        )

    qs = entry.queries()

    def timed(key: str, sf_dir: str) -> tuple[float, int]:
        # best-of-2: the probe VM's clock jitters 2-3x minute-to-minute
        # (see bench.py host_calib), and a single base mis-measure
        # inflates the ratio arbitrarily; min-of-two also sheds the
        # one-time plan-compile cost both scales pay equally.
        # semantic_dedup gets best-of-3 (r4 verdict item 6: its 10.22x
        # ratio was claimed as jitter — more repetitions settle it);
        # winnow_fingerprint too (r6: a cold big-side sample read 11.79x,
        # isolated best-of-3 settles at 6.01x — sub-second base times
        # amplify any big-side jitter into the ratio)
        best = None
        for _ in range(3 if key in ("semantic_dedup", "winnow_fingerprint") else 2):
            t0 = time.time()
            n = len(qs[key](spark, sf_dir).collect())
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2), n

    out = {}
    emb_mult = min(args.mult, 4)  # pairwise embedding ops: bounded probe
    if emb_mult != args.mult:
        big_emb = os.path.join(big, "emb_small")
        os.makedirs(big_emb, exist_ok=True)
        (
            emb.crossJoin(spark.range(emb_mult).select(F.col("id").alias("rep")))
            .select(
                (F.col("vec_id") + F.col("rep") * n_emb).alias("vec_id"),
                "embedding",
                "label",
            )
            .write.mode("overwrite")
            .parquet(os.path.join(big_emb, "embeddings.parquet"))
        )
        for t in ("region nation customer supplier part orders "
                  "lineitem events documents").split():
            _link(
                os.path.join(big, f"{t}.parquet")
                if t in ("events", "documents")
                else os.path.join(args.base, f"{t}.parquet"),
                os.path.join(big_emb, f"{t}.parquet"),
            )
    else:
        big_emb = big

    # TPC-H replication: orders x mult with shifted orderkeys+custkeys,
    # lineitem x mult with matching orderkeys and SHARED suppkeys — the
    # purchase graph grows x mult in edges and customers while suppliers
    # accumulate in-degree (hub shape a real corpus-authority graph has)
    big_tpch = os.path.join(big, "tpch")
    if any(wanted(k) for k in PROBES_TPCH):
        os.makedirs(big_tpch, exist_ok=True)
        orders = load_table(spark, args.base, "orders")
        li = load_table(spark, args.base, "lineitem")
        n_ok = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
        n_ck = orders.agg(F.max("o_custkey")).collect()[0][0] + 1
        reps_t = spark.range(args.mult).select(F.col("id").alias("rep"))
        (
            orders.crossJoin(reps_t)
            .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * n_ok)
            .withColumn("o_custkey", F.col("o_custkey") + F.col("rep") * n_ck)
            .drop("rep")
            .write.mode("overwrite")
            .parquet(os.path.join(big_tpch, "orders.parquet"))
        )
        (
            li.crossJoin(reps_t)
            .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * n_ok)
            .drop("rep")
            .write.mode("overwrite")
            .parquet(os.path.join(big_tpch, "lineitem.parquet"))
        )
        for t in ("region nation customer supplier part events "
                  "documents embeddings").split():
            _link(
                os.path.join(big, f"{t}.parquet")
                if t in ("events", "documents", "embeddings")
                else os.path.join(args.base, f"{t}.parquet"),
                os.path.join(big_tpch, f"{t}.parquet"),
            )

    PAIRWISE_EMB = {"embedding_dup_pairs"}
    for key in (
        PROBES_EVENTS + PROBES_DOCS + PROBES_DOCS_PAIRWISE + PROBES_EMB
        + PROBES_TPCH
    ):
        if not wanted(key):
            continue
        big_dir = (
            big_emb
            if key in PAIRWISE_EMB
            else big_docs4
            if key in PROBES_DOCS_PAIRWISE
            else big_tpch
            if key in PROBES_TPCH
            else big
        )
        base_t, base_n = timed(key, args.base)
        big_t, big_n = timed(key, big_dir)
        mult = (
            doc_mult
            if key in PROBES_DOCS_PAIRWISE
            else emb_mult
            if key in PAIRWISE_EMB
            else args.mult
        )
        # pairwise ops' OUTPUT grows quadratically under replication (every
        # replica pair is a true dup/near-dup); rows_ratio lets the time
        # ratio be read against the work the operator was actually asked for
        out[key] = {
            "base_s": base_t,
            "big_s": big_t,
            "data_mult": mult,
            "time_ratio": round(big_t / base_t, 2) if base_t else None,
            "rows_base": base_n,
            "rows_big": big_n,
            "rows_ratio": round(big_n / base_n, 2) if base_n else None,
        }
        print(
            f"# {key}: {base_t}s -> {big_t}s (x{mult} data, "
            f"rows {base_n} -> {big_n})",
            file=sys.stderr,
        )

    # the LSH near-dup regime: exact replicas ARE cosine-1.0 near-dups, so
    # threshold 0.95 has real planted structure at both scales
    from faust_spark.operators.dedup import embedding_dup_pairs as _edp

    def lsh_probe(sf_dir: str) -> tuple[float, int]:
        t0 = time.time()
        n = _edp(load_table(spark, sf_dir, "embeddings"), threshold=0.95).count()
        return round(time.time() - t0, 2), n

    if wanted("embedding_dup_lsh@0.95"):
        (b, bn), (g, gn) = lsh_probe(args.base), lsh_probe(big_emb)
        out["embedding_dup_lsh@0.95"] = {
            "base_s": b,
            "big_s": g,
            "data_mult": emb_mult,
            "time_ratio": round(g / b, 2) if b else None,
            "rows_base": bn,
            "rows_big": gn,
            "rows_ratio": round(gn / bn, 2) if bn else None,
        }
        print(
            f"# embedding_dup_lsh@0.95: {b}s -> {g}s "
            f"(x{emb_mult}, rows {bn} -> {gn})",
            file=sys.stderr,
        )

    # MinHash-LSH with a planted mega-cluster of byte-identical docs (r4
    # verdict item 4): 1k copies of one page at BOTH scales. Without the
    # exact-dup pre-collapse the cluster's band buckets make the candidate
    # self-join quadratic in cluster size and the ratio explodes; with it,
    # the cluster contributes one representative to LSH and a constant
    # (output-sized) intra-cluster expansion, so the ratio tracks the
    # corpus multiplier.
    from faust_spark.operators.dedup import minhash_lsh_pairs

    def planted_dir(src_dir: str, name: str, n_dup: int = 1000) -> str:
        dest = os.path.join(big, name)
        os.makedirs(dest, exist_ok=True)
        d = load_table(spark, src_dir, "documents")
        mx = d.agg(F.max("doc_id")).collect()[0][0]
        one = d.limit(1).select(
            F.lit("identical boilerplate navigation footer text " * 10)
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        dup = one.crossJoin(
            spark.range(n_dup).select((F.col("id") + mx + 1).alias("doc_id"))
        ).select("doc_id", "text", "lang", "source", "n_chars")
        d.unionByName(dup).write.mode("overwrite").parquet(
            os.path.join(dest, "documents.parquet")
        )
        return dest

    def lsh_cluster_probe(sf_dir: str) -> tuple[float, int]:
        d = load_table(spark, sf_dir, "documents")
        best = None
        for _ in range(2):
            t0 = time.time()
            n = minhash_lsh_pairs(d, threshold=0.5).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2), n

    if wanted("minhash_lsh_megacluster"):
        base_pl = planted_dir(args.base, "planted_base")
        big_pl = planted_dir(big_docs4, "planted_big")
        (b, bn), (g, gn) = (
            lsh_cluster_probe(base_pl),
            lsh_cluster_probe(big_pl),
        )
        out["minhash_lsh_megacluster"] = {
            "base_s": b,
            "big_s": g,
            "data_mult": doc_mult,
            "time_ratio": round(g / b, 2) if b else None,
            "rows_base": bn,
            "rows_big": gn,
            "rows_ratio": round(gn / bn, 2) if bn else None,
        }
        print(
            f"# minhash_lsh_megacluster: {b}s -> {g}s (x{doc_mult}, "
            f"rows {bn} -> {gn})",
            file=sys.stderr,
        )
    # SimHash hot-chunk skew (r9, VERDICT r8 item 3): plant a cluster of
    # near-identical pages (each variant swaps ONE word for a unique
    # token, so pairwise token distance is 2 and fingerprints agree on
    # most bits). Every cluster member shares chunk buckets with every
    # other, so the candidate join's hot bucket holds C(n_cluster, 2)
    # pairs — the skew shape the docstring's grow-the-chunk-width note
    # is about. The probe times bits=32 (8-bit chunks) against bits=64
    # (16-bit chunks) on the SAME planted corpus: wider chunks shed the
    # random cross-corpus collisions (8-bit buckets hold n/256 docs of
    # the whole corpus; 16-bit hold n/65536) while the true near-dup
    # cluster stays hot in both — that residual is verification work on
    # real near-pairs, not bucket noise, and is irreducible by width.
    from faust_spark.operators.dedup import simhash_near_pairs as _snp

    def simhash_planted_dir(src_dir: str, name: str, n_dup: int) -> str:
        dest = os.path.join(big, name)
        os.makedirs(dest, exist_ok=True)
        d = load_table(spark, src_dir, "documents")
        mx = d.agg(F.max("doc_id")).collect()[0][0]
        words = (
            "the quick brown fox jumps over a lazy dog while rain "
            "falls on the old tin roof and wind moves through tall "
            "grass near the river bend where herons wait for fish"
        )
        variants = spark.range(n_dup).select(
            (F.col("id") + mx + 1).alias("doc_id"),
            F.concat_ws(
                " ",
                F.lit(words),
                F.concat(F.lit("tok"), F.col("id").cast("string")),
            ).alias("text"),
            F.lit("en").alias("lang"),
            F.lit("planted").alias("source"),
            F.lit(len(words) + 8).alias("n_chars"),
        )
        d.unionByName(variants).write.mode("overwrite").parquet(
            os.path.join(dest, "documents.parquet")
        )
        return dest

    def simhash_probe(sf_dir: str, bits: int) -> tuple[float, int]:
        d = load_table(spark, sf_dir, "documents")
        best = None
        for _ in range(2):
            t0 = time.time()
            n = _snp(d, max_hamming=3, bits=bits).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2), n

    if wanted("simhash_hot_chunk"):
        pl = simhash_planted_dir(args.base, "simhash_planted", 1000)
        (b32, n32) = simhash_probe(pl, 32)
        (b64, n64) = simhash_probe(pl, 64)
        (c32, m32) = simhash_probe(args.base, 32)
        out["simhash_hot_chunk"] = {
            "clean_32bit_s": c32,
            "planted_32bit_s": b32,
            "planted_64bit_s": b64,
            "rows_clean_32bit": m32,
            "rows_planted_32bit": n32,
            "rows_planted_64bit": n64,
            "n_planted": 1000,
            "width_speedup": round(b32 / b64, 2) if b64 else None,
        }
        print(
            f"# simhash_hot_chunk: clean32 {c32}s/{m32} rows; "
            f"planted32 {b32}s/{n32} rows; planted64 {b64}s/{n64} rows",
            file=sys.stderr,
        )

    print(json.dumps({"mult": args.mult, "probes": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
