"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The reference's own benchmark measures events/sec through a pass-through
and a one-hop pipeline (t/bench/base.py prints elapsed per 10k events);
``events_per_sec`` in the JSON gives the comparable figure for our heaviest
streaming-shaped query (tumbling window agg over the events table).
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # faust surface
    "counter_table",
    "sum_table",
    "set_table",
    "tumbling_hourly",
    "hopping_30m_15m",
    "session_windows",
    "interval_join_sliding",
    "asof_join",
    "asof_join_nearest",
    "global_table_join",
    "multires_rollup",
    "word_count",
    # relational
    "q1_pricing",
    "q3_shipping",
    "q5_local_volume",
    "q6_forecast",
    "q18_large_orders",
    "value_percentiles",
    # LLM pipeline
    "dedup_exact",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "dedup_components",
    "simhash_fp",
    "simhash_near_pairs",  # r8: Hamming<=3 pigeonhole chunk join
    "text_quality",
    "repetition_stats",  # Gopher repetition filters
    "ngram_contamination",  # benchmark decontamination
    "dedup_keep_best",  # quality-aware keeper argmax
    "ann_cosine_topk",
    # serving paths benched WITHOUT the embedded brute-force recall
    # contract (r4 verdict asked for the split; r6: the GATE rows under
    # these keys now carry the recall contract + oracle, while the bench
    # times the raw serve functions via _BENCH_OVERRIDES below)
    "ivf_topk_serve",  # IVF ANN (k-means fit + nprobe probe)
    "ivfpq_topk_serve",  # IVF+PQ: cell-pruned ADC over codes + re-rank
    "rp_topk",  # r8: JL random-projection shortlist + exact re-rank
    "embedding_dup_pairs",  # block-grid GEMM exact path
    "edit_distance_pairs",  # length-bucket blocked Levenshtein
    "enumerate_stream",  # distributed zipWithIndex
    "multimodal_frames",  # Arrow one-to-many media expand
    "q8_market_share",  # five-dim broadcast star join
    "q21_waiting_supplier",  # EXISTS/NOT-EXISTS pair as shared-key rollups
    "approx_percentiles",  # GK sketch + rank-bound check
    "doc_chunking",  # context-window fan-out in codegen
    "shard_shuffle",  # hash-sharded training-order permutation
    "distinctive_terms",  # TF-IDF-shaped two-pass corpus stats
    "bm25_search",  # BM25 retrieval: one scan + TakeOrdered top-k
    "hybrid_search",  # BM25 + dense cosine fused by reciprocal-rank
    "mmr_rerank",  # r5: MMR diversification after dense retrieval
    "dedup_containment",  # r5: quote/subset containment pairs
    "bloom_dedup_admit",  # r5: Bloom-prefilter incremental admission
    "weighted_sample",  # r5: E-S weighted sampling without replacement
    "heavy_hitters_cms",  # r5: one-pass count-min sketch + estimates
    "distinct_rollup_hll",  # r5: mergeable HLL distinct rollup
    "scd2_lookup",  # r5: point-in-time SCD2 lookup as backward as-of
    "audience_overlap_theta",  # r5: theta-sketch distinct set algebra
    "value_quantiles_kll",  # r5: mergeable KLL quantile rollup
    "hard_negatives",  # cross-label nearest-neighbor mining
    "knn_label",  # kNN majority-vote label propagation
    "stratified_sample",  # exact per-stratum counts, one shuffle
    "boilerplate_chunks",  # cross-doc repeated-chunk profile
    "vocab_build",  # tokenizer-prep vocab with deterministic ids
    "tokenize_ids",  # tokenizer apply: broadcast vocab -> id arrays
    "remove_boilerplate",  # CCNet-style chunk stripping + reassembly
    "semantic_dedup",  # SemDeDup within-cell cosine dedup
    "zipf_slope",  # corpus rank-frequency health check
    "quality_classifier",  # model apply: literal weights, one scan
    "quality_logreg_fit",  # r6: GD training, one agg pass per step
    "quality_adaboost_fit",  # r6: boosted stumps, one agg pass per round
    "lang_nb_classify",  # r6: NB train + classify, model-sized joins
    "split_by_cluster",  # r6: leakage-proof cluster-atomic splits
    "token_budget_plan",  # r6: epoch planning, model-sized output
    "corpus_datasheet",  # r6: one grouping-sets pass release stats
    "nb_eval",  # r6: per-class P/R/F1 eval of the trained NB
    "supplier_pagerank",  # r6: iterative graph rank, O(|E|) per pass
    "kmeans_fit",  # r6: Lloyd trajectory, one corpus pass per iteration
    "supplier_hits",  # r6: HITS hubs/authorities, two joins per pass
    "bpe_merges",  # r6: BPE merge learning over the Zipf-bounded dict
    "purchase_communities",  # r6: label-propagation clustering
    "trusted_supplier_ppr",  # r6: seeded teleport quality propagation
    "pii_redact",  # codegen regex detect + mask, one scan
    "unigram_logprob",  # corpus-fit unigram LM perplexity scoring
    "substring_dedup",  # ExactSubstr span dedup (Lee et al. 2022)
    "remove_dup_spans",  # ExactSubstr span removal, md5-verified
    "winnow_fingerprint",  # MOSS winnowing fingerprints
    "perplexity_buckets",  # CCNet head/middle/tail tiers
    "zorder_layout",  # Morton-key two-dimensional clustering
    "bigram_logprob",  # interpolated bigram LM (Jelinek-Mercer)
    "kn_logprob",  # r6: Kneser-Ney tier (absolute discount + continuation)
    "dsir_score",  # DSIR hashed-ngram importance log-ratio
    "gopher_rules",  # heuristic rule battery, one scan
    "multimodal_features",  # Arrow-batched media feature extraction
    "multimodal_resize",  # payload->payload media transform
    "user_anomaly",  # per-user z-score outlier screen
    "dedup_jaccard_prefix",  # r6: exact PPJoin-style prefix-filtered join
    "livecheck_audit",  # r6: e2e-check reconciliation, one keyed shuffle
    "livecheck_case_stats",  # r6: suite-health rollup over the reports
    # streaming engine path
    "stream_tumbling_hourly",
    "stream_stateful_counter",
    "stream_session_windows",
    "stream_livecheck_audit",  # r6: keyed-state audit w/ event timers
    # (stream_lsh_dedup and stream_everseen_dedup are gate-only: their
    # cost is micro-batch harness replay, not a plan worth timing)
]

# gate rows for these keys are oracle contracts (recall vs exact, which
# embeds a brute-force ranking); the bench times the raw serving path
_BENCH_OVERRIDES = {
    "ivf_topk_serve": "ivf_topk_serve_raw",
    "ivfpq_topk_serve": "ivfpq_topk_serve_raw",
    "rp_topk": "rp_topk_raw",
}

#: VERDICT r8 item 5: the serve/fit-heavy rows drifted up to ~2x when
#: timed late in a session that had already executed ~80 queries (JVM
#: heap pressure + codegen-cache churn), then matched their fresh-
#: session retimes exactly — so the harness restarts the session and
#: re-warms before timing them, instead of footnoting the drift.
_HEAVY = {
    "ivf_topk_serve",
    "ivfpq_topk_serve",
    "supplier_hits",
    "bpe_merges",
}

#: VERDICT r5 item 5: single-shot numbers carried up to 2x cold-start
#: noise (hybrid_search 4.78 -> 2.47 min-of-3) — the harness now reports
#: min-of-N per query so cross-round comparisons stop needing
#: adjudication notes. Override with SPARK_GRAFT_BENCH_REPEATS.
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from faust_spark.session import get_spark

    import __spark_entry__ as entry
    from faust_spark.queries import pipeline

    # host-speed calibration: rounds run on fresh VMs whose clock speed
    # and disk vary; these fixed workloads let cross-round comparisons
    # normalize out the host (seconds here scale every wall time below).
    # r12 (VERDICT r11 item 3): the spin runs BEFORE and AFTER the
    # measurements — a run whose two phases diverge >20% was timed on a
    # host that changed speed mid-run (noisy neighbor, thermal / cgroup
    # throttling), and its per-query numbers are not comparable to
    # anything; the output flags it so bench_compare (and a reader)
    # flags the comparison unreliable instead of chasing phantom
    # regressions (the ratios are still printed, annotated as such).
    def _spin() -> float:
        t0 = time.time()
        acc = 0
        for i in range(20_000_000):
            acc += i * i
        return round(time.time() - t0, 3)

    calib_spin = _spin()
    t0 = time.time()
    with tempfile.TemporaryDirectory() as _d:
        _buf = b"\x5a" * (1 << 20)
        for i in range(100):
            with open(os.path.join(_d, f"f{i}"), "wb") as f:
                f.write(_buf)
    calib_io = round(time.time() - t0, 3)

    spark = get_spark("bench")
    qs = entry.queries()

    # warm-ups pay one-time infrastructure costs outside the measurements:
    # JVM/codegen startup (relational query) and the Python worker pool +
    # Arrow serialization machinery (one tiny mapInPandas round trip) —
    # otherwise the first Arrow-path query in HEADLINE absorbs both
    qs["q6_forecast"](spark, sf_dir).collect()
    spark.range(32).mapInPandas(
        lambda it: it, "id long"
    ).collect()

    def _time_key(key: str) -> float:
        fn = (
            getattr(pipeline, _BENCH_OVERRIDES[key])
            if key in _BENCH_OVERRIDES
            else qs[key]
        )
        best = None
        for _ in range(REPEATS):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            el = time.time() - t0
            best = el if best is None or el < best else best
        return round(best, 3)

    timings: dict[str, float] = {}
    for key in HEADLINE:
        if key not in _HEAVY:
            timings[key] = _time_key(key)

    # fresh warmed session for the heavy serve/fit rows (see _HEAVY)
    spark.stop()
    spark = get_spark("bench-heavy")
    qs = entry.queries()
    qs["q6_forecast"](spark, sf_dir).collect()
    spark.range(32).mapInPandas(lambda it: it, "id long").collect()
    for key in HEADLINE:
        if key in _HEAVY:
            timings[key] = _time_key(key)
    timings = {k: timings[k] for k in HEADLINE}  # stable output order

    total = round(sum(timings.values()), 3)
    n_events = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()
    eps = (
        round(n_events / timings["stream_tumbling_hourly"])
        if timings.get("stream_tumbling_hourly")
        else None
    )

    # BASELINE.md streaming analogue of the reference's t/bench scenarios:
    # baseline = pass-through consume; forward = +1 repartition hop.
    from pyspark.sql import functions as SF

    from faust_spark.catalog import normalize_event_time
    from faust_spark.streaming.runner import (
        run_to_memory,
        state_partitions,
        stream_parquet,
    )

    # VERDICT r9 item 5: the driver-snapshot eps numbers whipsawed ±20%
    # across rounds while the builder's own re-runs were stable — the
    # scenarios were timed at the TAIL of the heavy-row session (JVM heap
    # pressure + codegen-cache churn, the same drift _HEAVY exists for).
    # Fresh warmed session for the whole eps block, and more repeats
    # (each run is 1-2s, so max-of-5 costs ~20s and halves the spread).
    spark.stop()
    spark = get_spark("bench-eps")
    spark.range(32).mapInPandas(lambda it: it, "id long").collect()
    EPS_REPEATS = max(REPEATS, 5)

    def _events_stream():
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        s = stream_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        return normalize_event_time(s)

    def _best_eps(mk_df, output_mode: str) -> int:
        """Max events/sec over EPS_REPEATS runs (throughput analogue of
        the per-query min: cold-start noise only ever slows a run down)."""
        best = None
        for _ in range(EPS_REPEATS):
            t0 = time.time()
            run_to_memory(mk_df(), output_mode=output_mode)
            eps_i = n_events / (time.time() - t0)
            best = eps_i if best is None or eps_i > best else best
        return round(best)

    baseline_eps = _best_eps(
        lambda: _events_stream().select("event_id", "user_id", "value"),
        "append",
    )

    forward_eps = _best_eps(
        lambda: _events_stream()
        .repartition("user_id")  # the explicit extra hop
        .groupBy("user_id")
        .agg(SF.count(SF.lit(1)).alias("cnt")),
        "complete",
    )

    # windowed pipeline (watermark + tumbling agg) under BOTH state
    # backends (VERDICT r3 item 6). State partitions are sized to the
    # keyed-state volume: every state-store instance pays per-batch init
    # regardless of rows, so at fixture scale 32 stores are pure fixed
    # overhead (measured: 32 partitions -> ~62k eps, 8 -> ~118k on the
    # same data). The sizing rule mirrors production practice — enough
    # partitions that each store's state fits memory, no more.
    def _windowed():
        return (
            _events_stream()
            .withWatermark("ts", "1 hour")
            .groupBy(SF.window("ts", "1 hour"), SF.col("event_type"))
            .agg(
                SF.count(SF.lit(1)).alias("cnt"),
                SF.sum("value").alias("total"),
            )
        )

    _PROVIDERS = {
        "hdfs": "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
        "rocksdb": "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    }
    state_parts = state_partitions(n_events, 32)
    default_parts = spark.conf.get("spark.sql.shuffle.partitions")
    windowed_eps = {}
    for backend, provider in _PROVIDERS.items():
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", provider
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
        windowed_eps[backend] = _best_eps(_windowed, "update")
    spark.conf.set("spark.sql.shuffle.partitions", default_parts)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", _PROVIDERS["hdfs"]
    )
    calib_spin_post = _spin()
    phase_drift = round(
        max(calib_spin, calib_spin_post)
        / max(min(calib_spin, calib_spin_post), 1e-9),
        3,
    )
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "repeats": REPEATS,
        "eps_repeats": EPS_REPEATS,
        "events_per_sec_stream": eps,
        "stream_baseline_eps": baseline_eps,
        "stream_forward_eps": forward_eps,
        "stream_windowed_eps": windowed_eps,
        "stream_windowed_state_partitions": state_parts,
        "host_calib": {
            # mean of pre/post — the value normalizations use
            # (and the one old-format readers expect)
            "python_spin_sec": round(
                (calib_spin + calib_spin_post) / 2, 3
            ),
            "python_spin_pre": calib_spin,
            "python_spin_post": calib_spin_post,
            # max/min of the two phases; >1.2 = the host changed
            # speed mid-run, treat every number above as suspect
            "phase_drift": phase_drift,
            "phase_stable": phase_drift <= 1.2,
            "write_100mb_sec": calib_io,
        },
    }
    # The one-line JSON grew past the consumer's stdout tail buffer at
    # ~5 KB (97 queries) and the r12/r13 round-over-round comparison was
    # lost to a mid-line truncation. Two mitigations, measurement
    # methodology unchanged: (a) compact separators keep the line well
    # under 4 KB; (b) the full payload (plus provenance) also lands in
    # artifacts/bench_last.json, so a truncated tail is recoverable.
    try:
        import subprocess

        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=10,
        ).stdout.strip()
        os.makedirs("artifacts", exist_ok=True)
        with open("artifacts/bench_last.json", "w") as f:
            json.dump({**payload, "git_commit": commit}, f, indent=1)
    except Exception:
        pass  # the stdout line below is the contract; the copy is aid
    sys.stdout.flush()
    print(json.dumps(payload, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
