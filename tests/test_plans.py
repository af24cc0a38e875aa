"""Physical-plan assertions: the scale contract.

Correct results are necessary; these tests pin the *plans* — pushdown,
pruning, broadcast, codegen — so a regression that keeps results right but
wrecks the 100 TB execution strategy still fails CI.
"""

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as entry
from faust_spark.catalog import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = entry.queries()["filter_project"](spark, sf_dir)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "event_type" in plan


def test_column_pruning(spark, sf_dir):
    df = entry.queries()["filter_project"](spark, sf_dir)
    plan = plan_of(df)
    # only the needed columns reach the parquet reader
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema and "l_" not in read_schema


def test_q1_scan_prunes_columns(spark, sf_dir):
    df = entry.queries()["q1_pricing"](spark, sf_dir)
    plan = plan_of(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # unused column stays unread
    assert "l_quantity" in read_schema


def test_global_table_join_broadcasts(spark, sf_dir):
    df = entry.queries()["global_table_join"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q3_uses_broadcast_not_sortmerge(spark, sf_dir):
    df = entry.queries()["q3_shipping"](spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan


def test_topk_avoids_global_sort(spark, sf_dir):
    df = entry.queries()["topk_users"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_counter_has_partial_aggregation(spark, sf_dir):
    df = entry.queries()["counter_table"](spark, sf_dir)
    plan = plan_of(df)
    # partial_count before the exchange → map-side combine
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_no_python_udf_in_relational_queries(spark, sf_dir):
    """Core relational/faust-surface queries stay 100% JVM-side."""
    for key in (
        "counter_table", "sum_table", "tumbling_hourly", "q1_pricing",
        "global_table_join", "dedup_jaccard", "simhash_fp", "text_quality",
        "ann_cosine_topk",
    ):
        plan = plan_of(entry.queries()[key](spark, sf_dir))
        assert "BatchEvalPython" not in plan, key
        assert "ArrowEvalPython" not in plan, key


def test_whole_stage_codegen_active(spark, sf_dir):
    df = entry.queries()["q1_pricing"](spark, sf_dir)
    df.collect()  # AQE finalizes the physical plan only on execution
    # codegen stages render as "*(n) Operator" in the executed plan
    assert "*(1)" in plan_of(df)


def test_interval_join_is_equi_join_with_residual(spark, sf_dir):
    """The keyed interval join must plan as a hash/sortmerge equi-join on
    user_id — not BroadcastNestedLoopJoin/cartesian."""
    df = entry.queries()["interval_join_sliding"](spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_sample_filter_pushes_down(spark, sf_dir):
    """The data-mixing predicate must reach the scan as a plain filter —
    no shuffle, no Python."""
    df = entry.queries()["sample_mixture_weights"](spark, sf_dir)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_ngram_contamination_broadcasts_benchmark(spark, sf_dir):
    """The benchmark shingle side must broadcast; the corpus must not
    sort-merge or nested-loop against it."""
    plan = plan_of(entry.queries()["ngram_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_has_partial_aggregation(spark, sf_dir):
    """Both term-count passes must map-side combine (the O(corpus tokens)
    guarantee) and never nested-loop."""
    plan = plan_of(entry.queries()["repetition_stats"](spark, sf_dir))
    assert "partial_count" in plan or "partial count" in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dup_pairs_no_nested_loop(spark, sf_dir):
    """Round-1 weak spot, pinned fixed: the exact block-grid path must be
    an equi-join on grid cells, not a nested loop."""
    plan = plan_of(entry.queries()["embedding_dup_pairs"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_enumerate_no_single_partition_exchange(spark, sf_dir):
    """Round-1 weak spot, pinned fixed: no global single-partition sort on
    the data path."""
    df = entry.queries()["enumerate_stream"](spark, sf_dir)
    df.collect()  # AQE finalizes
    # executedPlan prints final plan then "== Initial Plan ==" — judge the
    # final plan only
    plan = plan_of(df).split("== Initial Plan ==")[0]
    # the data path is a parallel range exchange + per-partition window;
    # the only single-partition structure allowed is the offsets side,
    # which carries one row per partition (not the data)
    assert "Exchange rangepartitioning" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_keep_best_single_aggregation_no_window(spark, sf_dir):
    """The argmax must stay a struct-max aggregate — one shuffle, no
    window sort."""
    plan = plan_of(entry.queries()["dedup_keep_best"](spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_jaccard_prefix_verifies_sets_not_shingle_rows(spark, sf_dir):
    """PPJoin reads one materialized (id, set, n_sh) relation: prefixes
    are a posexplode of each canonical set, not a per-doc row_number
    window, and candidates are verified by an array intersection, not a
    shingle-level join counted per (doc1, doc2)."""
    import re

    df = entry.queries()["dedup_jaccard_prefix"](spark, sf_dir)
    df.collect()  # AQE finalizes
    plan = plan_of(df)
    assert "Window" not in plan
    assert not re.search(
        r"HashAggregate\(keys=\[doc1#\d+L?, doc2#\d+L?\], "
        r"functions=\[[^\]]*count",
        plan,
    ), plan
    assert "array_intersect" in plan


def test_doc_chunking_no_shuffle(spark, sf_dir):
    """The chunk fan-out is pure codegen (sequence+explode+slice): zero
    exchanges — chunking 100 TB must not move data."""
    plan = plan_of(entry.queries()["doc_chunking"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_shard_shuffle_no_global_sort(spark, sf_dir):
    """The training-order shuffle sorts per shard, never globally."""
    df = entry.queries()["shard_shuffle"](spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan
    assert "Exchange rangepartitioning" not in plan  # no global ORDER BY
    assert "Exchange hashpartitioning" in plan  # the one shard exchange


def test_pack_sequences_sharded_window(spark, sf_dir):
    """Sequence packing runs per shard: the running-sum window must be
    hash-partitioned on the shard key, never a global single-partition
    sort (the r6 weak spot, pinned fixed)."""
    df = entry.queries()["pack_sequences"](spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning" in plan
    assert "Window" in plan


def test_q2_partition_min_single_window_shuffle(spark, sf_dir):
    """Q2's correlated-min decorrelates to an unordered partition-min
    window: one partkey exchange, no single-partition sort, no
    self-join re-evaluation of the cost CTE."""
    df = entry.queries()["q2_min_cost_supplier"](spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan


def test_distinctive_terms_reuses_term_exchange(spark, sf_dir):
    """hash(term) satisfies the (doc,term) grouping, the term grouping,
    and the join key: tf-agg, df-agg, and the join share ONE data
    exchange (plan shows ReusedExchange)."""
    df = entry.queries()["distinctive_terms"](spark, sf_dir)
    df.collect()
    plan = plan_of(df).split("== Initial Plan ==")[0]
    assert "ReusedExchange" in plan


def test_grouping_sets_single_pass(spark, sf_dir):
    """GROUPING SETS must plan as one scan + Expand, not three aggs."""
    df = entry.queries()["grouping_sets_revenue"](spark, sf_dir)
    df.collect()
    assert "Expand" in plan_of(df)


def test_stratified_sample_single_shuffle(spark, sf_dir):
    """Rank and stratum count share ONE window partitioning: every
    hash exchange in the plan is on the stratum key."""
    df = entry.queries()["stratified_sample"](spark, sf_dir)
    df.collect()
    lines = [
        ln for ln in plan_of(df).splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert lines and all("lang" in ln for ln in lines)


def test_boilerplate_reuses_chunk_hash_exchange(spark, sf_dir):
    """Cross-doc count and per-doc rollup share the chunk_hash
    repartition (ReusedExchange), and only digests shuffle."""
    df = entry.queries()["boilerplate_chunks"](spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    assert "ReusedExchange" in plan


def test_label_propagation_argmax_has_no_window_sort(
    spark, sf_dir, monkeypatch
):
    """r10: the per-round LPA argmax is a partially-aggregable struct
    MIN, not a row_number window — the round's plan must carry
    partial_min (map-side combine) and no Window/sort stage for the
    vote argmax. materialize is stubbed to identity so the plan shows
    the round's operators instead of a checkpoint scan."""
    from pyspark.sql import functions as F

    import faust_spark.operators.graph as g

    monkeypatch.setattr(g, "materialize", lambda df, **kw: df)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").cast("string").alias("src"),
        F.col("l_suppkey").cast("string").alias("dst"),
    )
    df = g.label_propagation(edges, iters=1)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()


# --- per-iteration plan pins for the iterative loops (r11) ---------------
# The r10 verdict asked for one-round plan assertions so a future change
# cannot silently re-introduce a per-round |E| shuffle (graph loops) or a
# second corpus pass (kmeans/adaboost). Each loop materializes its round
# iterate, so spying on materialize/collect captures the EXECUTED round
# plan over checkpointed inputs — the plan that actually runs at round N.


@pytest.fixture()
def edge_frame(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    return o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_custkey").cast("string").alias("src"),
        F.col("l_suppkey").cast("string").alias("dst"),
    )


@pytest.fixture()
def mat_spy(monkeypatch):
    """Capture the executed plan of every materialize() call (the round
    iterates), routing through the real checkpoint."""
    import faust_spark.operators.graph as g
    import faust_spark.operators.mat as mat

    real = mat.materialize
    captured = []

    def spy(df, **kw):
        captured.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, **kw)

    monkeypatch.setattr(mat, "materialize", spy)
    monkeypatch.setattr(g, "materialize", spy)
    return captured


def _assert_round_plan(plan, max_hash_exchanges):
    """A round plan may re-key |V|-sized iterates and gather the
    scatter, but never anti-join, window-sort, or re-exchange more
    relations than that budget."""
    assert "LeftAnti" not in plan
    assert "Window" not in plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= max_hash_exchanges, f"{n} hash exchanges:\n{plan[:2000]}"


def test_pagerank_round_never_reshuffles_edges(spark, edge_frame, mat_spy):
    """Per round: ONE dst gather + at most one |V| rank re-key. The
    src-partitioned edge checkpoint must satisfy the contribution
    join's clustering (materialize_partitioned preserves it under
    AQE); dangling mass is a filtered SUM, never an anti-join."""
    import faust_spark.operators.graph as g

    g.pagerank(edge_frame, iters=2).count()
    _assert_round_plan(mat_spy[-1], 2)


def test_ppr_round_never_reshuffles_edges(spark, edge_frame, mat_spy):
    import faust_spark.operators.graph as g

    seeds = edge_frame.select(F.col("src").alias("node")).distinct().limit(5)
    g.personalized_pagerank(edge_frame, seeds, iters=2).count()
    _assert_round_plan(mat_spy[-1], 2)


def test_hits_half_steps_never_reshuffle_edges(spark, edge_frame, mat_spy):
    """The last 4 captures are round 2's (araw, auths, hraw, hubs);
    each half-step may re-key only |V|-sized relations."""
    import faust_spark.operators.graph as g

    g.hits(edge_frame, iters=2).count()
    assert len(mat_spy) >= 4
    for plan in mat_spy[-4:]:
        _assert_round_plan(plan, 2)


def test_lpa_round_never_reshuffles_edges(spark, edge_frame, mat_spy):
    import faust_spark.operators.graph as g

    g.label_propagation(edge_frame, iters=2).count()
    _assert_round_plan(mat_spy[-1], 2)


def test_cc_round_plan_constant_in_rounds(spark, mat_spy, monkeypatch):
    """Each min-label round reads the previous round's checkpoint, so
    the last round's executed plan has the same exchanges after 2
    rounds as after 6 (a cached, un-cut iterate nests every earlier
    round into it)."""
    import faust_spark.operators.graph as g

    monkeypatch.setattr(g, "_SMALL_GRAPH_EDGES", 0)
    chain = spark.range(12)
    nodes = chain.select(F.col("id").alias("doc_id"))
    pairs = chain.filter(F.col("id") < 11).select(
        F.col("id").alias("doc1"), (F.col("id") + 1).alias("doc2")
    )
    exchanges, cuts = [], []
    for rounds in (2, 6):
        mat_spy.clear()
        g.connected_components(nodes, pairs, max_iterations=rounds).count()
        exchanges.append(mat_spy[-1].count("Exchange hashpartitioning"))
        cuts.append(len(mat_spy))
    # the 11-hop chain never converges within 6 rounds: one checkpoint
    # per round, so the captured plans are round iterates, not the pair
    # list that the driver union-find materializes
    assert cuts[1] - cuts[0] == 4, cuts
    assert exchanges[0] == exchanges[1], exchanges
    _assert_round_plan(mat_spy[-1], 2)


@pytest.fixture()
def collect_spy(monkeypatch):
    """Capture the executed plan of every DataFrame.collect() — the
    per-round action of the driver-model trainers. (Patched on the
    classic implementation class: pyspark 4 instances override the
    facade base's method.)"""
    from pyspark.sql.classic.dataframe import DataFrame

    real = DataFrame.collect
    captured = []

    def spy(self):
        captured.append(
            self._jdf.queryExecution().executedPlan().toString()
        )
        return real(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    return captured


def test_kmeans_iteration_single_corpus_shuffle(spark, sf_dir, collect_spy):
    """Each Lloyd iteration (round_dp expression path) is ONE corpus scan
    whose only corpus-sized exchange carries k x dim partial averages;
    the cell re-gather is k x dim-sized. No joins, no windows."""
    from faust_spark.operators.similarity import kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    kmeans_fit(emb, k=4, iters=2, round_dp=6)
    rounds = collect_spy[1:]  # capture 0 is the seed collect
    assert len(rounds) == 2
    for plan in rounds:
        assert plan.count("Exchange hashpartitioning") <= 2
        assert "partial_avg" in plan
        assert "Join" not in plan and "Window" not in plan
        assert plan.count("FileScan") <= 2


def test_nearest_centroid_kernel_is_one_narrow_map(spark, sf_dir, collect_spy):
    """PQ encoding and the multi-codebook k-means fit assign through
    the one Arrow nearest-centroid kernel: pq_encode's plan has no Join
    and no Exchange, and a kmeans_centroids_multi round has no Join and
    only _lloyd_update's two exchanges — no broadcast centroid table,
    no (id, group) re-aggregation of an exploded corpus."""
    from faust_spark.operators.similarity import (
        kmeans_centroids_multi,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = [[[0.0] * 16, [1.0] * 16]] * 4
    enc = pq_encode(
        emb.select(F.col("vec_id").alias("nid"), "embedding"),
        books,
        coarse=[[0.0] * 64, [1.0] * 64],
    )
    assert len(enc.collect()) == emb.count()
    plan = plan_of(enc)
    assert "MapInArrow" in plan
    assert "Join" not in plan and "Exchange" not in plan, plan
    collect_spy.clear()
    kmeans_centroids_multi(emb, [(1, 64, 4), (1, 32, 4), (33, 32, 4)], 1)
    (rnd,) = collect_spy[1:]  # capture 0 is the seed collect
    assert "MapInArrow" in rnd
    assert "Join" not in rnd
    assert rnd.count("Exchange") == rnd.count("Exchange hashpartitioning")
    assert rnd.count("Exchange hashpartitioning") == 2, rnd


def test_adaboost_round_single_corpus_agg(spark, sf_dir, collect_spy):
    """Each boosting round is ONE (feat, bin)-keyed aggregation pass;
    prior stumps enter as expressions, never as joins or extra scans —
    and since r13 the rounds read the ONE materialized narrow
    (label + features) projection instead of re-scanning the source and
    recomputing the feature expressions (FileScan must be GONE from the
    round plans; the single source scan lives in the materialization)."""
    from faust_spark.operators.ml import adaboost_fit

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.length("text").cast("double").alias("f0"),
        F.size(F.split("text", " ")).cast("double").alias("f1"),
        (F.crc32(F.col("doc_id").cast("string")) % 2).alias("y"),
    )
    adaboost_fit(d, ["f0", "f1"], "y", rounds=2, n_bins=4)
    # captures: feature_ranges, then one per round
    rounds = collect_spy[-2:]
    for plan in rounds:
        assert plan.count("Exchange hashpartitioning") == 1
        assert "partial_sum" in plan
        assert "Join" not in plan and "Window" not in plan
        assert plan.count("FileScan") == 0
        assert "ExistingRDD" in plan


def test_materialize_partitioned_preserves_partitioning(spark):
    """The helper's whole point: a checkpoint built AQE-off carries
    HashPartitioning, so downstream AQE-on plans skip the exchange —
    and the session's AQE conf is restored afterwards."""
    from faust_spark.operators.mat import materialize_partitioned

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    base = spark.range(100).withColumn(
        "k", (F.col("id") % 7).cast("string")
    )
    ck = materialize_partitioned(base, "k")
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    agg = ck.groupBy("k").count()
    assert "Exchange" not in plan_of(agg)
    assert agg.count() == 7


def test_local_rows_is_local_table_scan(spark):
    """r13: local_rows plans a pure-JVM LocalTableScan (no Python-runner
    ExistingRDD re-evaluated per action) and round-trips values exactly,
    including array columns; the fallback path stays correct on a type
    the helper doesn't map."""
    from faust_spark.operators.mat import local_rows

    rows = [(0, [1.5, -2.25]), (1, []), (2, [0.0])]
    df = local_rows(spark, rows, "cell int, __cv array<double>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    got = sorted((r["cell"], list(r["__cv"])) for r in df.collect())
    assert got == [(0, [1.5, -2.25]), (1, []), (2, [0.0])]
    assert df.schema.simpleString() == "struct<cell:int,__cv:array<double>>"

    # unmapped DDL type -> plain createDataFrame fallback, same values
    import datetime

    d = datetime.date(2026, 1, 2)
    fb = local_rows(spark, [(1, d)], "k bigint, v date")
    assert [tuple(r) for r in fb.collect()] == [(1, d)]


def test_loop_partitions_rule(spark):
    """r11 rule: one partition per 250k rows, floored at 8, capped at
    the session's shuffle.partitions — and the cap applies AFTER the
    floor: exceeding the session width breaks co-partitioning with the
    |V|-side exchanges and re-shuffles the checkpointed loop invariant
    (found by the round-plan pins under a shuffle.partitions=4
    session)."""
    from faust_spark.operators.mat import loop_partitions

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny relations: the floor binds, but never above the session cap
    assert loop_partitions(spark, 1_600) == min(default, 8)
    # huge relations: the session cap binds
    assert loop_partitions(spark, 250_000 * (default + 8)) == default
    # between floor and cap: exact ceil
    assert loop_partitions(spark, 250_000 * 9) == min(default, max(8, 9))
    # the floor-over-cap case that caused the re-exchange
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        assert loop_partitions(spark, 1_600) == 4
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_ngram_contamination_single_corpus_pass(spark, sf_dir):
    """r13: totals and hit counts fold into ONE corpus shingle explode
    (left broadcast join + conditional count) — exactly two Generate
    nodes remain in the whole plan: one corpus-side, one benchmark-side.
    Three Generates means the old two-aggregate shape regressed back."""
    plan = plan_of(entry.queries()["ngram_contamination"](spark, sf_dir))
    assert plan.count("Generate explode") == 2, plan


def test_substring_spans_digest_relation_materialized(spark, sf_dir):
    """r13: the window-digest relation feeds two differently-keyed
    consumers (dup-hash agg, flag/starts join) whose exchanges cannot
    be reused — both operators must read it from a checkpoint (scan of
    an ExistingRDD), never re-run the md5-per-window explode in the
    outer plan."""
    for key in ("substring_dedup", "remove_dup_spans"):
        plan = plan_of(entry.queries()[key](spark, sf_dir))
        assert "ExistingRDD" in plan, key
        assert "Generate" not in plan, key


def test_remove_boilerplate_two_corpus_passes(spark, sf_dir):
    """r13: totals + kept counts + clean_hash fold into ONE groupBy(id)
    fed by a left digest join — the chunk explode (text payload) runs
    exactly twice: once under the boiler-hash agg, once under the final
    rollup. Three Generates / three scans means the old three-pass shape
    (separate anti-join + totals agg) regressed back."""
    plan = plan_of(entry.queries()["remove_boilerplate"](spark, sf_dir))
    assert plan.count("Generate") == 2, plan
    assert plan.count("Scan parquet") == 2, plan


def test_bm25_single_corpus_pass(spark, sf_dir):
    """r13: the BM25 postings relation is checkpointed and df / (n,
    avgdl) derive from it — the corpus text column is scanned at most
    once per query plan (bm25_search: the one filtered tokenize;
    hybrid_search: one sparse-side tokenize + the dense-side embedding
    scans, which carry no text). In bm25 the one tokenize lives inside
    the checkpoint, so the outer plan has NO Generate (only the stats
    length scan); in hybrid exactly one Generate remains (the tiny
    query-side term explode). More means the df/stats subtrees
    regressed to re-scanning text."""
    plan = plan_of(entry.queries()["bm25_search"](spark, sf_dir))
    assert plan.count("Generate") == 0, plan
    assert "ExistingRDD" in plan, plan
    plan = plan_of(entry.queries()["hybrid_search"](spark, sf_dir))
    assert plan.count("Generate") == 1, plan


def test_nb_fit_count_relation_materialized(spark, sf_dir):
    """r13: nb_fit's (class, word) count relation is checkpointed, so
    the model/classify plans read it as an ExistingRDD scan instead of
    re-exploding the training corpus per action."""
    from faust_spark.operators.ml import nb_fit

    docs = load_table(spark, sf_dir, "documents")
    model, priors, v = nb_fit(docs, text_col="text", class_col="lang")
    plan = plan_of(model)
    assert "ExistingRDD" in plan
    assert "Generate" not in plan
    assert v > 0


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _tree(node):
    """``node`` and all its descendants (a Catalyst plan or expression)."""
    yield node
    for c in _seq(node.children()):
        yield from _tree(c)


def _executed(node):
    """Executed physical nodes, descending into AQE's current plan and
    its query stages (a reused exchange is a leaf, so it counts once)."""
    k = _kind(node)
    if k == "AdaptiveSparkPlanExec":
        yield from _executed(node.executedPlan())
    elif k.endswith("QueryStageExec"):
        yield from _executed(node.plan())
    else:
        yield node
        for c in _seq(node.children()):
            yield from _executed(c)


@pytest.fixture()
def text_frame(spark):
    return spark.createDataFrame(
        [(1, "a b a b c", True), (2, "c c c c", False), (3, "x", True)],
        "doc_id long, text string, is_t boolean",
    )


def test_ngram_lambdas_never_split_text(spark, text_frame, monkeypatch):
    """N-gram expansion is linear in document length: no
    higher-order-function lambda re-splits the text per element (Spark
    does not hoist the invariant split out of the lambda, so every
    n-gram would re-split its whole document). Frames checkpointed on
    the way (dsir_logratio's count relation) are checked too."""
    import faust_spark.operators.text as text
    from faust_spark.operators.dedup import shingles

    frames = []
    real = text.materialize

    def spy(df, **kw):
        frames.append(df)
        return real(df, **kw)

    monkeypatch.setattr(text, "materialize", spy)
    splitting = []
    for name, fn in (
        ("shingles", shingles),
        ("bigram_logprob", text.bigram_logprob),
        ("kn_bigram_logprob", text.kn_bigram_logprob),
        ("dsir_logratio", lambda d: text.dsir_logratio(d, "is_t")),
    ):
        frames.clear()
        frames.append(fn(text_frame))
        bodies = [
            x.function()
            for df in frames
            for node in _tree(df._jdf.queryExecution().optimizedPlan())
            for e in _seq(node.expressions())
            for x in _tree(e)
            if _kind(x) == "LambdaFunction"
        ]
        assert bodies, name
        splitting += [
            (name, b.toString())
            for b in bodies
            if any(_kind(y) == "StringSplit" for y in _tree(b))
        ]
    assert not splitting, splitting


def test_kn_bigram_logprob_explodes_corpus_twice(spark, text_frame):
    """Every Kneser-Ney statistic is a window over the one (v,w) count
    relation, so the executed plan has exactly two Generates: the count
    relation's and the scoring stream's. Separate c(v)/N1+ aggregates
    joined back each re-ran the explode (five Generates): inferred
    filters and pruning keep their exchanges from being reused."""
    from faust_spark.operators.text import kn_bigram_logprob

    out = kn_bigram_logprob(text_frame.select("doc_id", "text"))
    out.collect()  # AQE finalizes
    nodes = list(_executed(out._jdf.queryExecution().executedPlan()))
    assert sum(_kind(n) == "GenerateExec" for n in nodes) == 2, [
        _kind(n) for n in nodes
    ]


def test_bigram_logprob_explodes_corpus_twice(spark, text_frame):
    """The Jelinek-Mercer unigram counts come off the (v,w) count
    relation plus each document's first token (a narrow projection, no
    explode), so the executed plan has exactly two Generates: the count
    relation's and the scoring stream's. A separate unigram explode was
    a third."""
    from faust_spark.operators.text import bigram_logprob

    out = bigram_logprob(text_frame.select("doc_id", "text"))
    out.collect()  # AQE finalizes
    nodes = list(_executed(out._jdf.queryExecution().executedPlan()))
    assert sum(_kind(n) == "GenerateExec" for n in nodes) == 2, [
        _kind(n) for n in nodes
    ]
