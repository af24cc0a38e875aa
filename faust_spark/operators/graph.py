"""Graph ranking and communities over edge relations: PageRank,
personalized PageRank, HITS, label propagation and connected
components.

Crawl-scale data curation ranks DOMAINS before it ranks documents —
Common Crawl publishes harmonic-centrality/PageRank-ranked domain lists
precisely so corpus builders can weight or prune sources by authority.
This module is that step over an arbitrary (src, dst) edge relation
(domain link graphs, citation graphs, user→item interactions), kept in
the repo's verification style: deterministic, engine-portable, the
whole iteration trajectory reproducible by a SQL oracle.

PageRank and PPR run ONE power-iteration loop (:func:`_power_iteration`);
they differ only in the teleport and dangling-share Column expressions
they pass in. Shape per iteration (the only shapes in the loop):

- contributions: ranks ⋈ edges on src (one hash join keyed by src),
  partial-agg SUM keyed by dst — the classic scatter/gather, shuffle
  bounded by |E| contribution rows pre-combine;
- dangling mass: one-row aggregate, broadcast back (nodes with no
  out-edges donate their rank through the teleport distribution — the
  standard stochastic fix);
- update: rank' = ROUND(teleport + d·(Σ in + dangling share), round_dp).

The per-iteration ROUND (in-engine, HALF_UP — same as DuckDB) is what
makes the trajectory bit-portable: cross-engine float-sum differences
(~1e-15 on in-neighbor sums) cannot move a rounded rank unless the true
value sits within that error of a rounding-grid boundary — the
``mmr_rerank``/``logreg_fit`` guard applied to graph iteration.

All five operators cut lineage the same way: every loop invariant and
every round's iterate goes through ``operators.mat`` (always a
checkpoint), so plan depth stays constant in ``iters``. The first four
prepare their edges with :func:`_edge_list`; the two undirected loops
(label propagation, connected components) share one undirected edge
relation (:func:`_undirected`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from faust_spark.operators.mat import (
    local_rows,
    loop_partitions,
    materialize,
    materialize_partitioned,
)

#: largest undirected edge count :func:`connected_components` resolves
#: with a driver-side union-find; bigger graphs take the distributed loop
_SMALL_GRAPH_EDGES = 100_000

__all__ = [
    "pagerank",
    "personalized_pagerank",
    "hits",
    "label_propagation",
    "connected_components",
]


def _edge_list(
    edges: DataFrame, src_col: str, dst_col: str, rows_per_edge: int = 1
) -> tuple[DataFrame, int]:
    """Distinct (src, dst) edges behind a lineage cut, and the
    ``loop_partitions`` width for a loop invariant of
    ``rows_per_edge``·|E| rows (r11 rule)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    # lazy checkpoint: the count right below is the first action and
    # materializes the blocks itself — eager=True was one whole extra
    # |E|-pass job per call (r14, guide §1.2)
    e = materialize(e)
    return e, loop_partitions(e.sparkSession, rows_per_edge * e.count())


def _out_degree(e: DataFrame) -> DataFrame:
    return e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))


def _flag_dangling(
    nodes: DataFrame, e: DataFrame, parts: int, *cols: Column
) -> DataFrame:
    """(node, *cols, dang) partitioned by node ONCE (r10): the
    per-round dangling mass is then a filtered SUM over the
    checkpointed rank iterate, with no per-round anti-join against the
    out-degrees, and each round's update join reuses this exchange."""
    return materialize_partitioned(
        nodes.join(
            _out_degree(e).select(
                F.col("src").alias("node"), F.lit(1).alias("__o")
            ),
            "node",
            "left",
        ).select("node", *cols, F.col("__o").isNull().alias("dang")),
        "node",
        num_partitions=parts,
    )


def _undirected(e: DataFrame, parts: int) -> tuple[DataFrame, DataFrame]:
    """The undirected view of (src, dst) edges — distinct, checkpointed
    pre-partitioned by ``dst`` (the vote/min-label join key of both
    undirected loops) — and its (node) set behind a lazy lineage cut."""
    und = materialize_partitioned(
        e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct(),
        "dst",
        num_partitions=parts,
    )
    nodes = materialize(
        und.select(F.col("src").alias("node")).distinct()
    )
    return und, nodes


def _power_iteration(
    e: DataFrame,
    nodes: DataFrame,
    parts: int,
    rank0: Column,
    teleport: Column,
    dangling_share: Column,
    iters: int,
    damping: float,
    round_dp: int,
) -> DataFrame:
    """The synchronous power iteration PageRank and PPR share; returns
    (node, rank). ``nodes`` comes from :func:`_flag_dangling`;
    ``rank0``, ``teleport`` and ``dangling_share`` are the caller's
    Column expressions over the node columns and the round's dangling
    mass ``dm``."""
    # edges annotated once with the donor's out-degree, partitioned by
    # the loop's join key ONCE — the checkpointed blocks keep that
    # partitioning, so each round's contribution join shuffles only the
    # |V| rank side, never the |E| edge side
    eo = materialize_partitioned(
        e.join(_out_degree(e), "src"), "src", num_partitions=parts
    )
    # initial rank rounded IN-ENGINE (F.round is HALF_UP like DuckDB's
    # ROUND; Python's round() is banker's — a tie would diverge)
    ranks = nodes.select(
        "node", "dang", F.round(rank0, round_dp).alias("rank")
    )
    for _ in range(iters):
        dangling = ranks.filter(F.col("dang")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm")
        )
        contrib = (
            eo.join(
                ranks.select(
                    F.col("node").alias("src"), F.col("rank").alias("r")
                ),
                "src",
            )
            .select("dst", (F.col("r") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = materialize(
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "dang",
                F.round(
                    teleport
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + dangling_share
                    ),
                    round_dp,
                ).alias("rank"),
            ),
            eager=True,
        )
    return ranks.select("node", "rank")


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 9,
) -> DataFrame:
    """PageRank over distinct directed edges; returns (node, rank).

    Nodes = distinct src ∪ dst; initial rank = ROUND(1/N, round_dp);
    ``iters`` synchronous iterations with uniform dangling-mass
    redistribution: rank' = ROUND((1-d)/N + d·(Σ in + dangling/N)).
    Deterministic — no RNG, no order dependence beyond float addition,
    which the per-iteration rounding absorbs.
    """
    e, parts = _edge_list(edges, src_col, dst_col)
    nodes = _flag_dangling(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        e,
        parts,
    )
    n = nodes.count()
    if n == 0:
        raise ValueError(
            "pagerank: empty edge relation — no nodes to rank"
        )
    return _power_iteration(
        e,
        nodes,
        parts,
        rank0=F.lit(1.0) / F.lit(float(n)),
        teleport=F.lit((1.0 - damping) / n),
        dangling_share=F.col("dm") / F.lit(float(n)),
        iters=iters,
        damping=damping,
        round_dp=round_dp,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    round_dp: int = 9,
) -> DataFrame:
    """PageRank with the teleport restricted to a SEED set — the
    trusted-seed scoring pass crawl pipelines run to propagate quality
    from a curated list (seed domains, vetted sources) through the link
    graph; returns (node, rank).

    Teleport weight w_v = 1/|S| for seeds present in the graph, else 0;
    init rank = ROUND(w, round_dp); update rank' = ROUND((1-d)·w +
    d·(inflow + dangling·w), round_dp) — dangling mass re-enters
    through the teleport distribution, so total mass stays with the
    seed-reachable subgraph.  Same loop as :func:`pagerank` plus a
    one-time seed semi-join.
    """
    e, parts = _edge_list(edges, src_col, dst_col)
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    sd = materialize(
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
    )
    ns = sd.count()
    if ns == 0:
        raise ValueError("no seed nodes present in the edge relation")
    wnodes = _flag_dangling(
        nodes.join(sd.withColumn("__s", F.lit(1)), "node", "left"),
        e,
        parts,
        F.when(F.col("__s").isNotNull(), F.lit(1.0) / F.lit(float(ns)))
        .otherwise(F.lit(0.0))
        .alias("w"),
    )
    return _power_iteration(
        e,
        wnodes,
        parts,
        rank0=F.col("w"),
        teleport=F.lit(1.0 - damping) * F.col("w"),
        dangling_share=F.col("dm") * F.col("w"),
        iters=iters,
        damping=damping,
        round_dp=round_dp,
    )


def hits(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    round_dp: int = 9,
) -> DataFrame:
    """HITS hubs & authorities over distinct directed edges; returns
    (node, hub, auth).

    Kleinberg's mutual-reinforcement iteration: auth[v] = Σ hub[u] over
    in-edges, hub[u] = Σ auth[v] over out-edges, each step L1-normalized
    (scores sum to 1 — chosen over the classical L2 norm because a sum
    is one exact aggregate both engines reproduce; relative ranking is
    identical) and ROUND(·, round_dp)ed in-engine, so the trajectory is
    bit-portable exactly as :func:`pagerank`'s.  On a bipartite purchase
    graph this is degree-weighted co-purchase centrality: authoritative
    suppliers are those bought by strong hub customers.

    Per half-iteration shapes: one src/dst-keyed hash join + partial-agg
    SUM (shuffle bounded by |E| pre-combine) and a one-row total
    broadcast.  Iterates are materialized per step — constant plan
    depth in ``iters``.  Requires ``iters >= 1`` (the auth side only
    exists after the first half-iteration).
    """
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    e, parts = _edge_list(edges, src_col, dst_col)
    # the |E| relation is checkpointed pre-partitioned by EACH
    # half-step's join key (r10): the auth step joins on src, the hub
    # step on dst — two partitioned copies mean neither half-step ever
    # shuffles the edges again, only the |V| score side (2x|E|
    # checkpointed state). nodes keep a node partitioning for the same
    # reason (the update joins).
    es = materialize_partitioned(e, "src", num_partitions=parts)
    ed = materialize_partitioned(e, "dst", num_partitions=parts)
    nodes = materialize_partitioned(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        "node",
        num_partitions=parts,
    )
    # r14 round fusion (VERDICT r13 item 8, guide §2.4): the loop keeps
    # scores ONLY for nodes that can feed the next half-step — auth
    # rows exist only for in-edge targets (araw's dst groups), hub rows
    # only for out-edge sources (hraw's src groups). The old shape
    # LEFT-joined the full |V| node relation after every half-step to
    # fill zeros; but a zero-filled row joins the next half-step's edge
    # relation inner-join and contributes exactly 0 to its SUM (or has
    # no out/in edge and doesn't join at all), so the fill changes no
    # downstream value — it only cost one |V| join + exchange PER
    # HALF-STEP. Normalization totals are unchanged (they sum over raw
    # rows; absent rows contributed 0.0). The zero-fill now happens
    # ONCE, in the final projection below, producing the identical
    # (node, hub, auth) relation: absent-from-araw nodes read auth
    # ROUND(COALESCE(NULL, 0.0)) = 0.0 exactly as before. Initial hubs
    # cover all nodes (hub0 = 1.0); the first araw inner join prunes to
    # src nodes exactly as it always did.
    hubs = nodes.select("node", F.lit(1.0).alias("hub"))
    auths = None
    for _ in range(iters):
        # materialized (lazily) because TWO actions consume it — the
        # one-row total broadcast and the normalization; without the
        # lineage cut the |E| join + agg would run twice per half-step
        araw = materialize(
            es.join(
                hubs.select(F.col("node").alias("src"), "hub"), "src"
            )
            .groupBy("dst")
            .agg(F.sum("hub").alias("raw"))
        )
        atot = araw.agg(F.sum("raw").alias("t"))
        # LAZY checkpoint (r14): the auth half-step's first consumer is
        # the hub half-step's htot broadcast build inside the SAME
        # round's one eager action below — materializing it here was a
        # second top-level action per round (2 driver round trips + plan
        # compilations per iteration instead of 1, guide §1.2). The
        # lineage cut still happens at first use, so plan depth stays
        # constant in ``iters`` exactly as before.
        auths = materialize(
            araw.crossJoin(F.broadcast(atot)).select(
                F.col("dst").alias("node"),
                F.round(
                    F.coalesce(
                        F.col("raw")
                        / F.when(F.col("t") != 0.0, F.col("t")),
                        F.lit(0.0),
                    ),
                    round_dp,
                ).alias("auth"),
            )
        )
        hraw = materialize(
            ed.join(
                auths.select(F.col("node").alias("dst"), "auth"), "dst"
            )
            .groupBy("src")
            .agg(F.sum("auth").alias("raw"))
        )
        htot = hraw.agg(F.sum("raw").alias("t"))
        hubs = materialize(
            hraw.crossJoin(F.broadcast(htot)).select(
                F.col("src").alias("node"),
                F.round(
                    F.coalesce(
                        F.col("raw")
                        / F.when(F.col("t") != 0.0, F.col("t")),
                        F.lit(0.0),
                    ),
                    round_dp,
                ).alias("hub"),
            ),
            eager=True,
        )
    return (
        nodes.join(hubs, "node", "left")
        .join(auths, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
        )
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label propagation over the UNDIRECTED view of the
    edges; returns (node, label) — community detection for duplicate
    clusters, co-purchase groups, domain neighborhoods.

    Init label[v] = v.  Each iteration every node adopts the most
    frequent label among its neighbors PLUS its own current label (the
    self-vote damps the two-coloring oscillation synchronous LPA
    exhibits on bipartite graphs), tie-broken by smallest label — fully
    deterministic, all-integer counting, so the trajectory is verified
    with ZERO tolerance like :mod:`faust_spark.operators.bpe`.

    Per iteration: one neighbor-keyed hash join (|2E| vote rows
    pre-combine) + one (node, label)-keyed partial agg + one argmax as
    ``min(struct(-votes, label))`` per node (r10: replaces the
    row_number window — same (votes DESC, label ASC) winner, but a
    partially-aggregable MIN gets map-side combine and skips the
    window's per-partition sort buffer; values verified identical
    against the oracle trajectory). Iterates materialize per round.

    Shuffle reuse (r10): the |2E| undirected relation is partitioned
    by ``dst`` ONCE before its lineage cut — the checkpointed blocks
    keep that output partitioning, so every round's vote join shuffles
    only the |V|-sized label side, never the edges. The vote rows are
    then hash-partitioned by ``node`` alone: that single exchange
    satisfies the clustering requirement of BOTH downstream aggs
    (``hashpartitioning(node)`` clusters ``(node, label)`` a fortiori),
    so per round exactly one |2E|-sized shuffle runs instead of three
    — the difference between 3 and 1 full-data exchanges per iteration
    at cluster scale.
    """
    # r12 (VERDICT r11 item 5): the checkpointed e ALSO stops the union
    # below recomputing the distinct subtree twice (e appears on both
    # sides), and the |2E| loop invariant is sized by loop_partitions,
    # so a small graph stops scanning 32 near-empty blocks per round.
    # The directed count bounds the undirected one (|und| ≤ 2|E|).
    e, parts = _edge_list(edges, src_col, dst_col, rows_per_edge=2)
    und, nodes = _undirected(e, parts)
    labels = nodes.select("node", F.col("node").alias("label"))
    for _ in range(iters):
        nbr_votes = und.join(
            labels.select(
                F.col("node").alias("dst"), "label"
            ),
            "dst",
        ).select(F.col("src").alias("node"), "label")
        counted = (
            nbr_votes.unionByName(labels)
            # session width here, NOT the loop rule's: unlike the
            # checkpoint (whose width sets a per-round SCAN cost), this
            # exchange carries the raw |2E| vote rows into the round's
            # compute-heavy aggs — measured 10x A/B (r12): session
            # width 20.7-22.9s vs loop width 24.4-27.2s, neutral at 1x
            .repartition("node")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        # struct MIN on (-votes, label) == (votes DESC, label ASC)
        # argmax; unlike a row_number window it pre-aggregates
        # map-side and never sort-buffers a node's candidate list
        labels = materialize(
            counted.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("votes")).alias("nv"),
                        F.col("label").alias("label"),
                    )
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label")),
            eager=True,
        )
    return labels


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Label each node with the min id of its duplicate cluster.

    Iterative min-label propagation (the standard large-graph CC loop):
    every round each node takes the min of its own label and its
    neighbors' labels; converges in O(component diameter) rounds. Data
    stays distributed — the driver loop only checks a convergence count
    per round. Dup components from near-dup pair detection have tiny
    diameters, so 3-4 rounds is typical. Each round's iterate is
    checkpointed, so plan depth stays constant in the round count.

    ``nodes``: one column ``id_col``; ``pairs``: columns doc1/doc2.
    Returns (id_col, component).

    Fast path: near-dup edge sets are orders of magnitude smaller than
    the corpus (they're the *output* of candidate pruning), so when the
    edge list fits comfortably on the driver (≤ ``_SMALL_GRAPH_EDGES``
    = 100k — a conservative few MB of ids) a local union-find
    resolves components in one pass and only the node→component map is
    distributed again. The iterative join loop remains the fallback for
    genuinely huge duplicate graphs.
    """
    # materialize the pair list once — both the path decision below and
    # every consumer (driver collect on the small path; the union of both
    # edge directions on the distributed path) would otherwise re-evaluate
    # the (expensive) pair-generation pipeline. LAZY localCheckpoint: the
    # count() on the next line is the first action, so it materializes the
    # blocks — an eager=True here was one whole extra job (r14, guide §1.2:
    # the count is unavoidable, the separate materialization pass was not).
    pairs = materialize(pairs)  # once, not per-round
    n_pairs = pairs.count()
    all_nodes = nodes.select(F.col(id_col).alias("node"))
    spark = nodes.sparkSession

    # Fast path decided BEFORE any distributed loop state is built (r14):
    # the r13 shape checkpointed + counted the |2E| undirected relation
    # and cached the active-node set only to throw all of it away when
    # the union-find branch hit — three jobs of pure overhead on the path
    # every near-dup corpus actually takes. 2·|pairs| bounds the
    # undirected-distinct edge count from above, so the branch condition
    # only gets more conservative (borderline graphs go distributed —
    # both paths are value-identical).
    if 2 * n_pairs <= _SMALL_GRAPH_EDGES:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        # union-find needs each undirected edge once; direction and
        # duplicates are harmless, so collect the raw pairs directly
        for r in pairs.collect():
            a, b = r["doc1"], r["doc2"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        comp_rows = [(n, find(n)) for n in parent]
        if comp_rows:
            # local_rows (guide §4): LocalTableScan, no Python re-eval
            resolved = local_rows(
                spark, comp_rows, "node long, component long"
            )
        else:
            resolved = all_nodes.limit(0).select(
                "node", F.col("node").alias("component")
            )
        # isolated = everything not in the (already collected) edge set —
        # an anti-join against the tiny resolved side, not a recompute of
        # the pair pipeline
        iso = all_nodes.join(
            F.broadcast(resolved.select("node")), "node", "left_anti"
        )
        return resolved.unionByName(
            iso.select("node", F.col("node").alias("component"))
        ).select(F.col("node").alias(id_col), "component")

    # distributed min-label propagation — loop state built only here
    # (the small path above never pays for it), on the same undirected
    # relation label propagation votes over
    und, active = _undirected(
        pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")),
        loop_partitions(spark, 2 * n_pairs),
    )
    # only edge-connected nodes participate in propagation; isolated nodes
    # are their own component and join back at the end (in a dedup corpus
    # the connected subgraph is a tiny fraction of all docs)
    isolated = all_nodes.join(active, "node", "left_anti")
    labels = active.select("node", F.col("node").alias("label"))
    for _ in range(max_iterations):
        # min over the node's own label and its neighbors' — one
        # node-keyed partial-agg MIN, as label propagation's vote count.
        # Lazy: the convergence count below is the round's one action
        # and materializes the checkpoint.
        new_labels = materialize(
            und.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .select(F.col("src").alias("node"), "label")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.unionByName(
        isolated.select("node", F.col("node").alias("label"))
    ).select(F.col("node").alias(id_col), F.col("label").alias("component"))
