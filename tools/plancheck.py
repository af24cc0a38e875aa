"""Plan-health snapshot: per-query physical-plan metrics as one JSON.

Catches silent plan regressions (a broadcast that became a sort-merge, a
new Python eval in a relational query, a lost pushdown) across rounds —
complements the value-correctness gate, which can't see execution shape.

Usage: python tools/plancheck.py [--sf DIR] [key ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# streaming queries execute eagerly inside queries(); plan introspection
# here targets the batch surface
SKIP = {
    "stream_everseen_dedup",
    "stream_heavy_hitters",
    "stream_tumbling_hourly",
    "stream_window_close",
    "stream_stateful_counter",
    "stream_dedup",
    "stream_stream_join",
    "stream_livecheck_audit",  # r6: streaming harness (keyed-state
    # audit; the batch form's plan is audited via livecheck_audit)
    "dedup_components",  # driver-side loop; terminal plan is trivial
    "split_by_cluster",  # r6: embeds dedup_components (same loop)
    "quality_logreg_fit",  # r6: GD steps run eagerly inside logreg_fit
    "quality_adaboost_fit",  # r6: boosting rounds run eagerly (one
    # (feat,bin)-keyed agg pass each); terminal plan is the stump table
    # (one ungrouped agg pass each: partial agg -> single-ROW exchange
    # -> final agg, no Python evals; pinned by tests/test_ml.py
    # test_gd_step_plan_shape); the terminal plan is the trajectory
    # literal
    "kmeans_fit",  # r6: Lloyd steps run eagerly inside the fit (one
    # argmin scan, its lambdas interpreted, + one (cell,dim)-keyed agg
    # each — narrow map, no UDF); the terminal plan is the trajectory
    # literal
    "supplier_hits",  # r6: same eager-iteration shape as pagerank
    "trusted_supplier_ppr",  # r6: eager iterations like pagerank
    "purchase_communities",  # r6: eager LPA iterations; terminal plan
    # is the materialized final label relation
    "bpe_merges",  # r6: merge iterations run eagerly over the word
    # dictionary; the terminal plan is the 10-row merge-table literal
    "bpe_segment_words",  # r6: same eager merge machinery; terminal
    # plan is the final materialized dictionary
    "supplier_pagerank",  # r6: iterations materialize eagerly inside
    # pagerank (lineage truncated per round, plan depth constant); the
    # per-iteration shape (hash joins + hash aggs, one-row dangling
    # broadcast, zero Python evals) is pinned by the trajectory oracle
    # + tests/test_graph.py test_pagerank_iteration_plan_shape (plan
    # bounded in the iteration count: every materialize is a checkpoint)
}


def metrics(plan: str) -> dict:
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "nested_loop": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
        "python_evals": plan.count("EvalPython"),
        "pushed_filters": "PushedFilters: [" in plan
        and "PushedFilters: []" not in plan,
        "codegen": "*(1)" in plan,
    }


# brute-force similarity baselines intentionally broadcast-nested-loop a
# tiny query set against the corpus scan (non-equi predicate); the LSH
# variants are the scale path
ALLOW_NESTED_LOOP = {
    "ann_cosine_topk",
    "embedding_dup_pairs",
    "edit_distance_pairs",  # bounded pairwise on a pre-blocked subset
    # one-ROW broadcast scalars (decorrelated scalar subqueries): the
    # "nested loop" is O(n·1) — each row compared against a single
    # broadcast aggregate row via an inequality, which Catalyst cannot
    # turn into a hash join (q15's equality version does become one)
    "q11_important_parts",
    "q22_dormant_customers",
    "distinctive_terms",  # df*5 <= n_docs against the one-row count
    "bm25_search",  # one-ROW (N, avgdl) stats broadcast
    "funnel_conversion",  # three one-ROW stage counts cross-joined

    "pq_ann_topk",  # ADC stage: tiny query set broadcast against code scan
    # r3: the recall-contract queries embed the brute-force exact ranking
    # (same tiny-query-set broadcast as ann_cosine_topk) plus a one-ROW
    # aggregate crossJoin for the recall bound
    "ivf_topk",
    "ivf2_topk",  # r4: same recall-contract embedding as ivf_topk
    "ivfpq_topk",  # r4: same, plus one-row recall-bound crossJoin
    # r4: broadcast tiny query set (with labels) against the corpus scan
    # under a non-equi label filter — ann_cosine_topk's exact shape; the
    # IVF/LSH candidate cascade is the scale path (see PLANS.md)
    "hard_negatives",
    "knn_label",
    # r4: dense side embeds the ann_cosine_topk shape; sparse side
    # carries bm25's one-ROW (N, avgdl) stats broadcast
    "hybrid_search",
    # one-ROW corpus-total broadcast into the per-term NLL expression
    "unigram_logprob",
    # r4: one-ROW total-count crossJoins, same shape as unigram_logprob:
    # temperature_mix broadcasts the corpus-total row into per-group p;
    # perplexity_buckets inherits unigram_logprob's LM-total crossJoin
    # (twice: histogram path + final scored join) plus the one-ROW doc
    # total for the bucket quotient; retrieval_eval embeds the exact
    # brute-force ranking (ann_cosine_topk's tiny-query broadcast) and
    # per-query one-ROW aggregates for hits@k/MRR
    "temperature_mix",
    "perplexity_buckets",
    "retrieval_eval",
    "bigram_logprob",  # one-ROW corpus-total crossJoin into per-(v,w) NLL
    "kn_logprob",  # r6: one-ROW bigram-type-total crossJoin, same shape
    "dsir_score",  # one-ROW (ts, tt) totals crossJoin into bucket weights
    # cells from the narrow Arrow argmin (assign_cells_arrow), then the
    # one cell-keyed shuffle into the chunked pairwise scorer
    "semantic_dedup",
    # r8: pigeonhole chunk self-join over the materialized fingerprint
    # relation; Hamming verify runs before the pair-dedup shuffle
    "simhash_near_pairs",
    # r8: Arrow-GEMM projection (narrow map), tiny projected-query
    # broadcast for the shortlist, broadcast candidate re-rank
    "rp_topk",
    # r5: serving paths inherit the IVF probe shapes above minus the
    # recall contract (tiny query-set broadcast against the cell scan)
    "ivf_topk_serve",
    "ivfpq_topk_serve",
    # r13: evolved-index serve (same probed-cell scan + tiny query
    # broadcast as ivf_topk_serve) wrapped in the recall contract,
    # whose exact side is the intentional brute-force ranking
    "ann_index_lifecycle",
    # r5: the Bloom bitmap rides as a ONE-ROW broadcast DataFrame
    # (crossJoin) so the 16k-long array isn't a plan literal; the
    # membership test itself is codegen element_at + bitwise AND
    "bloom_dedup_admit",
    # r5: candidate generation embeds the exact brute-force retrieval
    # (ann_cosine_topk's tiny-query broadcast); the MMR greedy itself is
    # grouped Arrow over retrieval-bounded candidates
    "mmr_rerank",
    # r5: the group-pair join runs over the MODEL-SIZED theta-sketch
    # table (G rows -> G^2/2 pairs of ~KB sketches) under a pure
    # inequality — intentionally a broadcast nested loop of a tiny side;
    # the raw data is touched once, by the sketch aggregation
    "audience_overlap_theta",
    # r6: cascade GATE rows embed the brute-force exact side for the
    # recall/agreement contract (ann_cosine_topk's tiny-query broadcast)
    # plus ivf's centroid-probe NLs. The cascades THEMSELVES add zero
    # nested loops over bare ivf_topk — corpus/label joins are broadcast
    # hash joins — asserted by tests/test_similarity.py
    # test_cascade_adds_only_hash_joins
    "hard_negatives_ivf",
    "knn_label_ivf",
    # r6: one-ROW Σn^alpha total broadcast into the per-group share —
    # temperature_mix's exact shape
    "token_budget_plan",
    # r6: NB model grid = vocab x classes crossJoin (both model-sized;
    # classes is a <10-row broadcast) plus the one-row doc-total
    # broadcast into the priors — raw docs are scanned once, by the
    # count pass; the score join itself is a broadcast HASH join
    "lang_nb_classify",
    "nb_eval",  # r6: inherits NB model-grid crossJoins + the tiny
    # class-list x predictions broadcast for the confusion counts
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from faust_spark.session import get_spark

    spark = get_spark("plancheck")
    qs = entry.queries()
    keys = args.keys or [k for k in qs if k not in SKIP]

    out = {}
    for key in keys:
        try:
            df = qs[key](spark, args.sf)
            df.collect()  # finalize AQE plan
            plan = df._jdf.queryExecution().executedPlan().toString()
            out[key] = metrics(plan)
            # toString prints a shared subtree once PER CONSUMER (a
            # diamond lineage double-counts its exchanges), so also
            # record the deduplicated SHUFFLE operator count from
            # formatted mode, where each physical operator appears
            # exactly once: reuse shows as ReusedExchange (not
            # counted), BroadcastExchange doesn't match (not a
            # shuffle), and after AQE finalizes the output carries
            # BOTH "Final Plan" and "Initial Plan" sections — only the
            # final (executed) section counts
            fmt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            final = fmt.split("== Initial Plan ==")[0]
            out[key]["exchange_ops"] = len(
                re.findall(
                    r"(?<!Reused)(?<!Broadcast)Exchange \(\d+\)", final
                )
            )
        except Exception as e:
            out[key] = {"error": str(e)[:120]}
    print(json.dumps(out, indent=1, sort_keys=True))
    bad = [
        k
        for k, m in out.items()
        if (m.get("nested_loop", 0) > 0 and k not in ALLOW_NESTED_LOOP)
        or "error" in m
    ]
    if bad:
        print(f"REGRESSIONS: {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
