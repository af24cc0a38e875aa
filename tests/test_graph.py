"""Graph operators (operators/graph.py): trajectories vs numpy/Python
references, dangling-mass conservation, connected components on both
paths, and plan shape (no Python evals)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import faust_spark.operators.graph as graph
from faust_spark.operators.graph import connected_components, hits, pagerank
from faust_spark.operators.mat import local_rows


def _numpy_pagerank(edges, iters, d=0.85, round_dp=9):
    """Pure-numpy replica of the operator's exact recipe: synchronous
    iterations, uniform dangling redistribution, per-iteration
    HALF_UP rounding (the operator rounds in-engine)."""
    import decimal

    def half_up(x):
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal(1).scaleb(-round_dp),
                rounding=decimal.ROUND_HALF_UP,
            )
        )

    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for s, _ in edges:
        outdeg[idx[s]] += 1
    r = np.full(n, half_up(1.0 / n))
    for _ in range(iters):
        dm = r[outdeg == 0].sum()
        inflow = np.zeros(n)
        for s, t in edges:
            inflow[idx[t]] += r[idx[s]] / outdeg[idx[s]]
        r = np.array(
            [
                half_up((1.0 - d) / n + d * (inflow[i] + dm / n))
                for i in range(n)
            ]
        )
    return dict(zip(nodes, r))


def test_pagerank_matches_numpy_reference(spark):
    # chain with a dangling tail, a hub, and a duplicate edge (the
    # operator must dedupe edges before counting out-degree)
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"),
        ("d", "a"), ("e", "a"), ("e", "b"), ("a", "b"),  # dup
        ("f", "g"),  # g is dangling
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=4, damping=0.85).collect()
    }
    want = _numpy_pagerank(edges, iters=4)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])


def test_pagerank_mass_conserved_with_dangling(spark):
    """Uniform dangling redistribution keeps total rank ~1 every
    iteration (up to rounding), even when many nodes have no
    out-edges."""
    edges = [(f"u{i}", "sink") for i in range(20)]  # sink is dangling
    df = spark.createDataFrame(edges, "src string, dst string")
    for it in (1, 3):
        total = (
            pagerank(df, iters=it)
            .agg(F.sum("rank").alias("s"))
            .collect()[0]["s"]
        )
        assert abs(total - 1.0) < 1e-6, (it, total)


def test_pagerank_iteration_plan_shape(spark):
    """Every loop materialization is a checkpoint, so the terminal plan
    is a truncated scan whose size does NOT grow with the iteration
    count, and no Python ever enters the plan. (The per-iteration
    join/agg shape itself is pinned by tests/test_plans.py and the
    trajectory oracles, which would hash-mismatch on any shape bug.)"""
    df = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    p2 = (
        pagerank(df, iters=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    p4 = (
        pagerank(df, iters=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in p2 and "EvalPython" not in p4
    # lineage truncated: doubling the iterations must not grow the
    # terminal plan
    assert len(p4) <= len(p2) + 200
    assert p2.count("\n") < 10


def _numpy_hits(edges, iters, round_dp=9):
    """Replica of the operator's recipe: L1-normalized half-steps with
    HALF_UP rounding after each normalization."""
    import decimal

    def half_up(x):
        return float(
            decimal.Decimal(repr(float(x))).quantize(
                decimal.Decimal(1).scaleb(-round_dp),
                rounding=decimal.ROUND_HALF_UP,
            )
        )

    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    hub = {n: 1.0 for n in nodes}
    auth = {n: 0.0 for n in nodes}
    for _ in range(iters):
        raw = {n: 0.0 for n in nodes}
        for s, t in edges:
            raw[t] += hub[s]
        tot = sum(raw.values())
        auth = {
            n: half_up(raw[n] / tot) if tot else 0.0 for n in nodes
        }
        raw = {n: 0.0 for n in nodes}
        for s, t in edges:
            raw[s] += auth[t]
        tot = sum(raw.values())
        hub = {
            n: half_up(raw[n] / tot) if tot else 0.0 for n in nodes
        }
    return hub, auth


def test_hits_matches_numpy_reference(spark):
    edges = [
        ("a", "x"), ("a", "y"), ("b", "y"), ("b", "z"),
        ("c", "y"), ("c", "x"), ("d", "z"), ("a", "x"),  # dup
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits(df, iters=3).collect()
    }
    hub, auth = _numpy_hits(edges, iters=3)
    assert set(got) == set(hub)
    for n in hub:
        assert abs(got[n][0] - hub[n]) < 1e-9, (n, got[n], hub[n])
        assert abs(got[n][1] - auth[n]) < 1e-9, (n, got[n], auth[n])


def test_hits_bipartite_roles(spark):
    """On a bipartite graph sources get hub mass and sinks get
    authority mass; each side's scores sum to ~1 (L1 norm) and the
    most-purchased sink is the top authority."""
    edges = [("c1", "s1"), ("c2", "s1"), ("c3", "s1"), ("c3", "s2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    r = {x["node"]: x for x in hits(df, iters=3).collect()}
    assert all(r[s]["auth"] == 0.0 for s in ("c1", "c2", "c3"))
    assert all(r[s]["hub"] == 0.0 for s in ("s1", "s2"))
    assert abs(sum(x["auth"] for x in r.values()) - 1.0) < 1e-6
    assert abs(sum(x["hub"] for x in r.values()) - 1.0) < 1e-6
    assert r["s1"]["auth"] > r["s2"]["auth"]


def _numpy_lpa(edges, iters):
    """Replica: undirected neighbor votes + self-vote, argmax with
    (votes DESC, label ASC) tie-break, synchronous updates."""
    und = set()
    for s, t in edges:
        und.add((s, t))
        und.add((t, s))
    nodes = sorted({s for s, _ in und})
    nbrs = {n: [t for s, t in und if s == n] for n in nodes}
    lab = {n: n for n in nodes}
    for _ in range(iters):
        new = {}
        for n in nodes:
            votes: dict[str, int] = {lab[n]: 1}
            for m in nbrs[n]:
                votes[lab[m]] = votes.get(lab[m], 0) + 1
            new[n] = min(votes, key=lambda k: (-votes[k], k))
        lab = new
    return lab


def test_label_propagation_matches_reference(spark):
    from faust_spark.operators.graph import label_propagation

    edges = [
        # two triangles bridged by one edge
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("x", "y"), ("y", "z"), ("z", "x"),
        ("c", "x"),
        ("b", "a"),  # reverse dup
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, iters=3).collect()
    }
    assert got == _numpy_lpa(edges, 3)


def test_label_propagation_separates_components(spark):
    """Two disconnected cliques converge to distinct single labels
    (the min node id of each clique)."""
    from faust_spark.operators.graph import label_propagation

    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("p", "q"), ("q", "r"), ("p", "r")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, iters=4).collect()
    }
    assert {got["a"], got["b"], got["c"]} == {"a"}
    assert {got["p"], got["q"], got["r"]} == {"p"}


def test_personalized_pagerank_matches_reference(spark):
    """Seeded teleport: numpy replica with dangling mass re-entering
    through the seed distribution; non-seed-reachable nodes get 0."""
    import decimal

    from faust_spark.operators.graph import personalized_pagerank

    def half_up(x, dp=9):
        return float(
            decimal.Decimal(repr(float(x))).quantize(
                decimal.Decimal(1).scaleb(-dp),
                rounding=decimal.ROUND_HALF_UP,
            )
        )

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
        ("x", "y"),  # disconnected from the seed component
    ]
    seeds = ["a", "zzz"]  # zzz not in graph -> ignored
    df = spark.createDataFrame(edges, "src string, dst string")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, sdf, iters=3).collect()
    }

    und = sorted(set(edges))
    nodes = sorted({s for s, _ in und} | {t for _, t in und})
    seed_in = [s for s in seeds if s in nodes]
    w = {n: (1.0 / len(seed_in) if n in seed_in else 0.0) for n in nodes}
    outdeg = {}
    for s, _ in und:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {n: half_up(w[n]) for n in nodes}
    d = 0.85
    for _ in range(3):
        dm = sum(r[n] for n in nodes if n not in outdeg)
        inflow = {n: 0.0 for n in nodes}
        for s, t in und:
            inflow[t] += r[s] / outdeg[s]
        r = {
            n: half_up((1.0 - d) * w[n] + d * (inflow[n] + dm * w[n]))
            for n in nodes
        }
    assert set(got) == set(r)
    for n in r:
        assert abs(got[n] - r[n]) < 1e-9, (n, got[n], r[n])
    # the x->y component is unreachable from the seed: zero rank
    assert got["x"] == 0.0 and got["y"] == 0.0
    # seed-reachable nodes carry all the mass
    assert sum(got.values()) > 0.9


def test_personalized_pagerank_requires_in_graph_seeds(spark):
    import pytest

    from faust_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    sdf = spark.createDataFrame([("nope",)], "node string")
    with pytest.raises(ValueError):
        personalized_pagerank(df, sdf)


def test_pagerank_empty_edges_raises(spark):
    """Degenerate input contract: an empty edge relation is a clear
    ValueError, not a ZeroDivisionError from 1/N (VERDICT r7 item 5)."""
    import pytest

    df = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="empty edge relation"):
        pagerank(df)


def test_hits_requires_at_least_one_iteration(spark):
    """hits(iters=0) used to join None (the auth side only exists after
    the first half-iteration) — now a clear ValueError."""
    import pytest

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="iters"):
        hits(df, iters=0)



def _union_find_components(nodes, pairs):
    """Plain-Python union-find replica: node -> min id of its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _cc(spark, nodes, pairs):
    out = connected_components(
        local_rows(spark, [(n,) for n in nodes], "doc_id long"),
        local_rows(spark, pairs, "doc1 long, doc2 long"),
    )
    return {r["doc_id"]: r["component"] for r in out.collect()}


@pytest.fixture()
def distributed(monkeypatch):
    """The argument tuples of every ``graph._undirected`` call: one per
    connected-components run that took the distributed loop."""
    undirected, calls = graph._undirected, []

    def spy(*args):
        calls.append(args)
        return undirected(*args)

    monkeypatch.setattr(graph, "_undirected", spy)
    return calls


def test_connected_components_paths_match_union_find_replica(
    spark, monkeypatch, distributed
):
    """Seeded random graphs with isolated nodes and a planted 7-hop path
    (longer than any fixed checkpoint window): the driver union-find
    path, the distributed min-label loop and a Python replica agree
    exactly."""
    rng = np.random.default_rng(11)
    for _ in range(3):
        nodes = list(range(40))
        # random edges among 0..24; 25..29 stay isolated
        pairs = [
            tuple(int(v) for v in rng.choice(25, 2, replace=False))
            for _ in range(12)
        ]
        # a path over 30..37 in shuffled order, so the min label has to
        # walk all 7 hops
        path = [int(v) for v in rng.permutation(np.arange(30, 38))]
        pairs += list(zip(path, path[1:]))
        want = _union_find_components(nodes, pairs)
        assert _cc(spark, nodes, pairs) == want
        with monkeypatch.context() as mp:
            mp.setattr(graph, "_SMALL_GRAPH_EDGES", 0)
            assert _cc(spark, nodes, pairs) == want
    # only the three forced runs took the distributed loop
    assert len(distributed) == 3


def test_connected_components_distributed_leaves_no_cache_entries(
    spark, monkeypatch, distributed
):
    """The distributed loop cuts lineage with checkpoints only: after
    a run of 8 rounds the session CacheManager holds no more entries
    than before the call (a persist/unpersist loop leaked one cached
    frame per lineage cut)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    chain = spark.range(8)
    nodes = chain.select(F.col("id").alias("doc_id"))
    pairs = chain.filter(F.col("id") < 7).select(
        F.col("id").alias("doc1"), (F.col("id") + 1).alias("doc2")
    )
    monkeypatch.setattr(graph, "_SMALL_GRAPH_EDGES", 0)
    before = cm.numCachedEntries()
    out = connected_components(nodes, pairs, max_iterations=20)
    assert {r.component for r in out.collect()} == {0}
    assert len(distributed) == 1
    assert cm.numCachedEntries() <= before
