"""Scale probe: replicate the fixtures N× and time registered queries.

Correctness gates run at sf0.01; this probe answers the other question —
does each query's runtime grow ~linearly when the data does? The
replicated directory (:func:`replicate`) shifts ids and timestamps per
replica (key cardinality and time span both grow) and marks each
document replica's text (dup structure preserved per replica).

Usage: python tools/scale_probe.py [--mult 10] [--base DIR] [KEY ...]
Times every key below (or only the given registered keys) at 1× and N×
and prints one JSON line: seconds and rows at both scales plus ratios.
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
    "zorder_layout",  # 4-scalar agg + pure codegen Morton key
    "heavy_hitters_cms",  # sketch-bounded shuffle, one pass
    "distinct_rollup_hll",  # daily sketches + sketch-table union
    "scd2_lookup",  # backward as-of, one user-keyed shuffle
    "audience_overlap_theta",  # sketch agg + G^2 sketch pairs
    "value_quantiles_kll",  # daily KLL + merged quantile contract
    "livecheck_audit",  # one (test_id,case)-keyed shuffle, specs
    # broadcast; state per pending execution only
    "livecheck_case_stats",  # reports rollup, one case-keyed shuffle
]
# pairwise ops: candidate sets grow super-linearly under replication
# (every replica pair is a planted near-dup), so the probe stays bounded
# at PAIRWISE_MULT and reads time against rows_ratio
PROBES_PAIRWISE = [
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "edit_distance_pairs",  # PassJoin segment blocking (exact)
    "dedup_incremental",  # batch x corpus join (replicas inflate overlap)
    "dedup_containment",  # same equi-join shape, min-denominator
    "split_by_cluster",  # jaccard pairs + components + hash split
    "dedup_jaccard_prefix",  # PPJoin prefix filter — exact, capless
    "simhash_near_pairs",  # pigeonhole chunk join; replica pairs
    # land at small Hamming distances so true output grows with C(mult,2)
    "stream_lsh_dedup",  # micro-batch replay of the DFS bucket-claim
    # sink; replicas multiply both docs and band buckets
    "split_leakage_audit",  # PPJoin pairs + projection split labels;
    # output stays <=9 rows but the pair relation under it grows C(mult,2)
    "embedding_dup_pairs",  # embeddings replicate as EXACT copies, so
    # the sub-0.72 exact grid pays both more pairs and a bigger output
]
PAIRWISE_MULT = 4
PROBES_DOCS = [
    "simhash_fp",
    "repetition_stats",
    "ngram_contamination",
    "kn_logprob",  # bigram-relation re-aggs, posting-shaped score join
    "doc_chunking",  # linear fan-out, no shuffle
    "shard_shuffle",  # per-shard parallel sorts
    "distinctive_terms",  # single shared term exchange
    "bm25_search",  # one scan + TakeOrdered: should be ~linear
    "hybrid_search",  # one postings pass + per-query-bounded fusion
    "boilerplate_chunks",  # digest-only shuffles, shared exchange
    "stratified_sample",  # one stratum-keyed shuffle
    "temperature_mix",  # group-count agg + broadcast p, linear scan
    "tokenize_ids",  # broadcast vocab; one doc-keyed reassembly exchange
    "remove_boilerplate",  # digest-only boilerplate set + ordered rebuild
    "vocab_build",  # term-keyed partial agg; rank over model-sized vocab
    "pii_redact",  # codegen regex: pure scan, no shuffle
    "unigram_logprob",  # term-keyed LM agg + posting-shaped score join
    "bigram_logprob",  # (v,w)-keyed LM agg + posting-shaped join
    "dsir_score",  # bucket-keyed aggs (256 buckets), weights broadcast
    "gopher_rules",  # rule battery: pure scan, no shuffle
    "multimodal_features",  # Arrow-batched narrow map over payloads
    "multimodal_resize",  # payload->payload narrow map
    "winnow_fingerprint",  # per-doc sliding-min windows, linear
    "perplexity_buckets",  # LM agg + banded cumulative histogram
    "substring_dedup",  # window-hash agg + flag join, both hash-keyed
    "remove_dup_spans",  # same shuffles + per-doc codegen cut
    "bloom_dedup_admit",  # one corpus agg pass + broadcast bitmap
    "weighted_sample",  # hash priorities, per-group rank window
    "quality_logreg_fit",  # 4 GD steps, one ungrouped agg pass each
    "quality_adaboost_fit",  # 4 boosting rounds, one agg pass each
    "lang_nb_classify",  # one count pass + posting-shaped score join
    "bpe_merges",  # one corpus pass, then dictionary-sized merges
    "nb_eval",  # (truth,pred) pair-count confusion agg
    "pack_sequences",  # shard-partitioned running sum, no global window
]
# graph/relational ops over replicated orders+lineitem: customers shift
# per replica (edge count grows x mult), suppliers are shared (in-degree
# grows, the realistic hub shape)
PROBES_TPCH = [
    "supplier_pagerank",  # per-iteration scatter/gather is O(|E|)
    "supplier_hits",  # two O(|E|) half-steps per iteration
    "purchase_communities",  # |2E| votes + (node,label) agg per pass
    "trusted_supplier_ppr",  # pagerank shapes + one seed semi-join
]
# semantic_dedup derives its cell count from the corpus
# (k = max(8, ceil(n/250)), mirrored in the oracle), so replicas that
# multiply the corpus also multiply cells and the within-cell quadratic
# term stays bounded
PROBES_EMB = [
    "ann_cosine_topk",
    "ann_lsh_topk",  # bucketed probe + multiprobe union
    "ivf_topk",
    "ivf2_topk",  # hierarchical corpus assignment
    "ivfpq_topk",  # cell-pruned ADC over codes
    "semantic_dedup",
    "hard_negatives",  # broadcast queries, linear scan by design
    "knn_label",  # same shape + per-qid vote agg
    "mmr_rerank",  # retrieval-bounded per-query Arrow greedy
    "hard_negatives_ivf",  # cascade gate (IVF probe + label re-rank)
    "knn_label_ivf",  # cascade vote gate (deeper nprobe=8)
    "kmeans_fit",  # one scan + k*dim-bounded agg per Lloyd step
    "pq_ann_topk",  # ADC scan under the single-exact-subtree contract
    "ivf_topk_serve",  # serve path, exact subtree planned once
    "ivfpq_topk_serve",  # PQ serve path, same contract
    "rp_topk",  # JL shortlist, partial top-k per batch before the qid
    # exchange; the gate includes the recall contract
    "stream_embedding_dedup",  # hyperplane-LSH bucket-claim replay;
    # replicas are EXACT vector copies, so every replica is suppressed
    # by its base twin and output stays ~flat while input grows
]
PROBES = (
    PROBES_EVENTS + PROBES_DOCS + PROBES_PAIRWISE + PROBES_EMB + PROBES_TPCH
)
# sub-second base times amplify any big-side jitter into the ratio
BEST_OF_3 = {"semantic_dedup", "winnow_fingerprint"}


def _link(src: str, dst: str) -> None:
    """Idempotent symlink: replace an existing link so the probe is
    rerunnable against a warm temp dir (a bare os.symlink raises
    FileExistsError on the second run)."""
    if os.path.islink(dst) or os.path.exists(dst):
        os.remove(dst)
    os.symlink(src, dst)


def replicate(spark, base: str, dest: str, mult: int) -> str:
    """Write an sf-shaped directory at ``dest`` holding ``mult`` replicas
    of ``base``'s events, documents, embeddings, orders and lineitem;
    every other table is a symlink to ``base``. Returns ``dest``.

    Replica ``rep`` shifts each id by ``rep × (max id + 1)`` (ids stay
    unique), event timestamps by ``rep`` days, and appends a 24-letter
    marker unique to the replica to each document's text. Same-replica
    document pairs keep their base edit distance, but cross-replica pairs
    gain ~24 substitutions, past edit_distance_pairs' k=10, so the true
    near-dup pair set grows ~linearly and the ratio measures compute,
    not planted-pair output. Orders shift customers per replica while
    lineitem keeps its suppliers, so the purchase graph grows ``mult``×
    in edges and customers and suppliers gain in-degree.
    """
    from pyspark.sql import functions as F

    from faust_spark.catalog import TABLES, load_table

    t = {
        name: load_table(spark, base, name)
        for name in ("events", "documents", "embeddings", "orders", "lineitem")
    }
    ev, users = t["events"].agg(
        F.max("event_id") + 1, F.max("user_id") + 1
    ).first()
    (docs,) = t["documents"].agg(F.max("doc_id") + 1).first()
    (vecs,) = t["embeddings"].agg(F.max("vec_id") + 1).first()
    okeys, custs = t["orders"].agg(
        F.max("o_orderkey") + 1, F.max("o_custkey") + 1
    ).first()
    rep = F.col("rep")
    shifted = {
        "events": {
            "event_id": F.col("event_id") + rep * ev,
            "ts": F.col("ts") + F.make_interval(secs=rep * 86400),
            "user_id": F.col("user_id") + rep * users,
        },
        "documents": {
            "doc_id": F.col("doc_id") + rep * docs,
            "text": F.concat_ws(
                " ", F.col("text"), F.expr("repeat(char(97 + rep), 24)")
            ),
        },
        "embeddings": {"vec_id": F.col("vec_id") + rep * vecs},
        "orders": {
            "o_orderkey": F.col("o_orderkey") + rep * okeys,
            "o_custkey": F.col("o_custkey") + rep * custs,
        },
        "lineitem": {"l_orderkey": F.col("l_orderkey") + rep * okeys},
    }
    os.makedirs(dest, exist_ok=True)
    reps = spark.range(mult).select(F.col("id").alias("rep"))
    for name in TABLES:
        path = os.path.join(dest, f"{name}.parquet")
        if name not in shifted:
            _link(os.path.join(base, f"{name}.parquet"), path)
            continue
        cols = shifted[name]
        df = t[name]
        df.crossJoin(reps).select(
            *[cols.get(c, F.col(c)).alias(c) for c in df.columns]
        ).write.mode("overwrite").parquet(path)
    return dest


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument(
        "keys",
        nargs="*",
        help="registered query keys to time (default: every key above)",
    )
    args = ap.parse_args()

    import __spark_entry__ as entry
    from faust_spark.session import get_spark

    qs = entry.queries()
    keys = args.keys or PROBES
    unknown = [k for k in keys if k not in qs]
    if unknown:
        ap.error(f"not registered queries: {' '.join(unknown)}")
    spark = get_spark("scale-probe")

    def timed(key: str, sf_dir: str) -> tuple[float, int]:
        # best-of-2: the host clock jitters minute to minute, and a single
        # base mis-measure inflates the ratio arbitrarily; the min also
        # sheds the one-time plan-compile cost both scales pay equally
        best = None
        for _ in range(3 if key in BEST_OF_3 else 2):
            t0 = time.time()
            n = len(qs[key](spark, sf_dir).collect())
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 2), n

    out = {}
    with tempfile.TemporaryDirectory(prefix="scale_probe_") as work:
        dirs: dict[int, str] = {}
        for key in keys:
            mult = (
                min(args.mult, PAIRWISE_MULT)
                if key in PROBES_PAIRWISE
                else args.mult
            )
            if mult not in dirs:
                dirs[mult] = replicate(
                    spark, args.base, os.path.join(work, f"x{mult}"), mult
                )
            base_t, base_n = timed(key, args.base)
            big_t, big_n = timed(key, dirs[mult])
            # pairwise ops' OUTPUT grows quadratically under replication;
            # rows_ratio lets the time ratio be read against the work the
            # operator was actually asked for
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
    print(json.dumps({"mult": args.mult, "probes": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
