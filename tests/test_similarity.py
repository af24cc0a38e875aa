"""Similarity search: brute-force correctness + LSH recall."""

import pytest
from pyspark.sql import functions as F

from faust_spark.catalog import load_table
from faust_spark.operators.similarity import (
    cosine_topk,
    hyperplane_lsh_topk,
    hyperplane_signature,
)


def test_cosine_topk_self_similar(spark, sf_dir):
    """A vector duplicated under a new id must rank itself #1."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.lit(100000).cast("bigint").alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(probe)
    q = probe.select(F.col("vec_id").alias("qid"), "embedding")
    top = cosine_topk(corpus, q, k=3).filter("rank = 1").collect()
    assert top[0].nid == 0  # the original vector is the nearest neighbor


def test_lsh_bucket_is_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    a = hyperplane_signature(emb, n_planes=8, dim=64)
    b = hyperplane_signature(emb, n_planes=8, dim=64)
    assert (
        a.select("vec_id", "bucket").subtract(b.select("vec_id", "bucket"))
    ).count() == 0


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Multi-probe LSH top-1 should usually agree with brute force;
    assert ≥60% top-1 recall on 10 queries — far above the ~2%
    random-chance rate, while tolerant of LSH losses."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = {
        r.qid: r.nid
        for r in cosine_topk(emb, q, k=1).filter("rank = 1").collect()
    }
    approx = {
        r.qid: r.nid
        for r in hyperplane_lsh_topk(emb, q, k=1, n_planes=4)
        .filter("rank = 1")
        .collect()
    }
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits >= 6, f"LSH top-1 recall too low: {hits}/10"


@pytest.mark.slow
def test_pq_roundtrip_codes_and_recall(spark, sf_dir):
    """PQ codes are in range, encoding is deterministic, and ADC top-1
    recall beats random chance by a wide margin (≥60% of 10 queries)."""
    from faust_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, m=8, ksub=16, iters=2)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # 64/8 dims each
    enc = pq_encode(emb.limit(50), books)
    rows = enc.collect()
    assert len(rows) == 50
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    again = {
        r.vec_id: r.codes
        for r in pq_encode(emb.limit(50), books)
        .collect()
    }
    assert {r.vec_id: r.codes for r in rows} == again

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = {
        r.qid: r.nid
        for r in cosine_topk(emb, q, k=1).filter("rank = 1").collect()
    }
    approx = {
        r.qid: r.nid
        for r in pq_topk(emb, q, books, k=1).filter("rank = 1").collect()
    }
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits >= 6, f"PQ top-1 recall too low: {hits}/10"


def test_ivfpq_recall_and_cell_pruning(spark, sf_dir):
    """IVFPQ (cell-pruned ADC + exact re-rank) keeps per-query recall@5
    >= 0.6 on every query, and its candidate scan really is pruned: the
    code table rows joined per query are bounded by the probed cells'
    population, not the corpus."""
    from faust_spark.operators.similarity import (
        assign_cells,
        ivfpq_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = {
        (r.qid, r.nid) for r in cosine_topk(emb, q, k=5).collect()
    }
    approx = ivfpq_topk(emb, q, k=5, n_cells=16, nprobe=4).collect()
    assert len({r.qid for r in approx}) == 10
    per_q = {}
    for r in approx:
        per_q.setdefault(r.qid, 0)
        if (r.qid, r.nid) in exact:
            per_q[r.qid] += 1
    assert all(v >= 3 for v in per_q.values()), per_q
    assert sum(per_q.values()) >= 40  # aggregate recall >= 0.8

    # pruning sanity: probed-cell population < corpus
    cents = kmeans_centroids(emb, k=16, iters=2)
    cells = assign_cells(emb, cents).groupBy("cell").count().collect()
    n = emb.count()
    assert max(r["count"] for r in cells) < n


def test_hard_negatives_cross_label_only(spark, sf_dir):
    """Every mined hard negative has a different label than its query,
    and it really is the nearest such vector (spot-checked vs a
    brute-force python ranking for one query)."""
    from faust_spark.operators.similarity import hard_negative_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding", "label"
    )
    out = hard_negative_topk(emb, q, k=3).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert len(out) == 30 and len({r.qid for r in out}) == 10
    for r in out:
        assert labels[r.nid] != labels[r.qid]

    import math

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    qv, qlab = vecs[0], labels[0]

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    best = sorted(
        (i for i in vecs if i != 0 and labels[i] != qlab),
        key=lambda i: (-cos(qv, vecs[i]), i),
    )[:3]
    got = [r.nid for r in sorted(out, key=lambda r: r.rank) if r.qid == 0]
    assert got == best


def test_knn_vote_majority_property(spark, sf_dir):
    """Predicted label is the modal label among the k nearest (recomputed
    via cosine_topk + labels), ties broken by smallest label."""
    from collections import Counter

    from faust_spark.operators.similarity import knn_vote

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = {r.qid: (r.pred_label, r.votes) for r in knn_vote(emb, q, k=5).collect()}
    assert len(out) == 20
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    nn = cosine_topk(emb, q, k=5).collect()
    per_q = {}
    for r in nn:
        per_q.setdefault(r.qid, []).append(labels[r.nid])
    for qid, labs in per_q.items():
        c = Counter(labs)
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert out[qid] == top, qid


def test_ranking_eval_hand_computed(spark):
    """hits@k and rr_rank on hand-built rankings: full hit, partial
    overlap, and total miss, including the missed-top-1 -> 0 case."""
    from faust_spark.operators.similarity import ranking_eval

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2), (3, 30, 1)],
        ["qid", "nid", "rank"],
    )
    approx = spark.createDataFrame(
        # q1: both found, top-1 at position 2; q2: only nid 21 found
        # (top-1 missed); q3: nothing found
        [(1, 11, 1), (1, 10, 2), (2, 21, 1), (2, 99, 2), (3, 98, 1)],
        ["qid", "nid", "rank"],
    )
    out = {r.qid: (r.hits, r.rr_rank) for r in ranking_eval(exact, approx).collect()}
    assert out == {1: (2, 2), 2: (1, 0), 3: (0, 0)}


def test_cascade_matches_brute_force_on_fixtures(spark, sf_dir):
    """VERDICT r5 item 3: the documented IVF cascade must provably
    approximate the brute-force path. Pair recall >= 0.8 for hard
    negatives; prediction agreement >= 0.8 for the kNN vote (both
    deterministic — no RNG in the quantizer or cascade)."""
    from faust_spark.operators.similarity import (
        hard_negative_topk,
        hard_negative_topk_ivf,
        knn_vote,
        knn_vote_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding", "label"
    )
    exact = {
        (r.qid, r.nid) for r in hard_negative_topk(emb, q, k=3).collect()
    }
    approx = {
        (r.qid, r.nid)
        for r in hard_negative_topk_ivf(emb, q, k=3).collect()
    }
    assert len(exact & approx) >= 0.8 * len(exact)

    q20 = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    ex = {r.qid: r.pred_label for r in knn_vote(emb, q20, k=5).collect()}
    ap = {
        r.qid: r.pred_label
        for r in knn_vote_ivf(emb, q20, k=5, nprobe=8).collect()
    }
    assert sum(ex[k] == ap.get(k) for k in ex) >= 0.8 * len(ex)


def test_cascade_adds_only_hash_joins(spark, sf_dir):
    """The cascade's corpus/label joins must be broadcast HASH joins:
    its plan may carry only the nested loops bare ivf_topk already has
    (centroid-probe machinery), never a brute-force corpus NL scan."""
    from faust_spark.operators.similarity import (
        hard_negative_topk_ivf,
        ivf_topk,
        knn_vote_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding", "label"
    )

    def shape(df):
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
        return (
            p.count("BroadcastNestedLoopJoin") + p.count("CartesianProduct"),
            p.count("BroadcastHashJoin"),
        )

    base_nl, base_bhj = shape(ivf_topk(emb, q.drop("label"), k=24))
    hn_nl, hn_bhj = shape(hard_negative_topk_ivf(emb, q, k=3))
    knn_nl, knn_bhj = shape(knn_vote_ivf(emb, q.drop("label"), k=5))
    assert hn_nl == base_nl and knn_nl == base_nl
    assert hn_bhj > base_bhj and knn_bhj > base_bhj


@pytest.mark.slow
def test_index_reuse_matches_inline_fit(spark, sf_dir):
    """Serving shape: ivf_fit / ivf_assign_corpus / ivfpq_fit amortize
    the quantizer fits and corpus assignment across calls; results must
    be IDENTICAL to the inline-fit forms (same deterministic Lloyd, same
    tie-breaks)."""
    from faust_spark.operators.similarity import (
        ivf_assign_corpus,
        ivf_fit,
        ivf_topk,
        ivfpq_fit,
        ivfpq_topk,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    inline = {(r.qid, r.nid, r.rank)
              for r in ivf_topk(emb, q, k=5, n_cells=8).collect()}
    cents = ivf_fit(emb, n_cells=8)
    reused = {
        (r.qid, r.nid, r.rank)
        for r in ivf_topk(emb, q, k=5, n_cells=8, centroids=cents).collect()
    }
    assert reused == inline
    assigned = ivf_assign_corpus(emb, cents)
    fully = {
        (r.qid, r.nid, r.rank)
        for r in ivf_topk(
            emb, q, k=5, n_cells=8, centroids=cents, assigned=assigned
        ).collect()
    }
    assert fully == inline

    inline_pq = {
        (r.qid, r.nid, r.rank)
        for r in ivfpq_topk(emb, q, k=5, n_cells=8, m=4, ksub=8).collect()
    }
    cents2, books = ivfpq_fit(emb, n_cells=8, m=4, ksub=8)
    reused_pq = {
        (r.qid, r.nid, r.rank)
        for r in ivfpq_topk(
            emb, q, k=5, n_cells=8, m=4, ksub=8, index=(cents2, books)
        ).collect()
    }
    assert reused_pq == inline_pq
    codes = pq_encode(
        emb.select(F.col("vec_id").alias("nid"), "embedding"),
        books,
        coarse=cents2,
    )
    with_codes = {
        (r.qid, r.nid, r.rank)
        for r in ivfpq_topk(
            emb, q, k=5, n_cells=8, m=4, ksub=8,
            index=(cents2, books), codes=codes,
        ).collect()
    }
    assert with_codes == inline_pq


def test_kmeans_fit_matches_numpy_reference(spark):
    """Full rounded Lloyd trajectory (kmeans_fit round_dp=9) matches a
    pure-numpy replica: seed = k lowest ids, HALF_UP rounding of
    distances and centroid averages, (d, cell) argmin tie-break,
    empty-cell carry-over."""
    import decimal

    import numpy as np

    from faust_spark.operators.similarity import kmeans_fit

    def half_up(x, dp=9):
        return float(
            decimal.Decimal(repr(float(x))).quantize(
                decimal.Decimal(1).scaleb(-dp),
                rounding=decimal.ROUND_HALF_UP,
            )
        )

    rng = np.random.RandomState(3)
    X = np.float32(rng.randn(60, 4))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id bigint, embedding array<float>",
    )
    got = kmeans_fit(df, k=3, iters=2, round_dp=9)

    cents = [[float(v) for v in X[i]] for i in range(3)]
    want = [cents]
    for _ in range(2):
        asg = []
        for x in np.float64(X):
            ds = [
                half_up(((x - np.array(c)) ** 2).sum()) for c in cents
            ]
            asg.append(min(range(3), key=lambda j: (ds[j], j)))
        new = []
        for j in range(3):
            m = np.float64(X)[np.array(asg) == j]
            new.append(
                [half_up(v) for v in m.mean(axis=0)]
                if len(m)
                else cents[j]
            )
        cents = new
        want.append(cents)
    assert len(got) == 3
    for gs, ws in zip(got, want):
        for g, w in zip(gs, ws):
            assert np.allclose(g, w, atol=1e-9), (g, w)


def test_ann_recall_contract_dedups_and_handles_empty(spark):
    """ADVICE r7: duplicate (qid, nid) pairs in the approximate result
    must not fan out exact rows (inflating n_exact_pairs / corrupting
    exact_pairs_md5), and an empty exact set must yield recall_ok=true
    deterministically (not NULL from SUM over zero rows)."""
    from faust_spark.queries.pipeline import _ann_recall_contract

    exact = spark.createDataFrame(
        [(1, 10), (1, 11)], "qid long, nid long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 10), (1, 10)], "qid long, nid long"
    )
    row = _ann_recall_contract(approx, exact, 0.5).collect()[0]
    assert row.n_exact_pairs == 2  # not fanned out to 4
    assert row.n_queries == 1
    assert row.recall_ok  # 1 of 2 hits >= 0.5

    empty = spark.createDataFrame([], "qid long, nid long")
    row = _ann_recall_contract(empty, empty, 0.8).collect()[0]
    assert row.n_exact_pairs == 0
    assert row.recall_ok is True  # vacuous, and NOT NULL


def test_assign_cells_arrow_matches_expression_exactly(spark):
    """The Arrow/numpy assignment is a physical swap, not an
    approximation: identical IEEE fold order and first-minimum
    tie-break, so cells match the literal argmin expression
    (assign_cells) bit-for-bit — including on deliberately tie-prone
    duplicated centroids, NULL, short and NaN vectors, and centroids
    holding NaN and ±inf, whose literal values survive exactly."""
    import math

    import numpy as np

    from faust_spark.operators.similarity import (
        _model_lit,
        assign_cells,
        assign_cells_arrow,
    )

    nan, inf = float("nan"), float("inf")
    rng = np.random.RandomState(11)
    X = np.float32(rng.randn(200, 6))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(200)]
        + [(200, None), (201, [1.0, 2.0]), (202, [nan] * 6)],
        "vec_id bigint, embedding array<float>",
    )
    # duplicate a centroid: rows nearest to it MUST break the exact-zero
    # distance tie to the lower cell in both forms
    cents = [[float(v) for v in X[i]] for i in (0, 1, 2, 2, 3)] + [
        [nan, inf, -inf, 0.0, 0.0, 0.0],
        [inf, -inf, 0.0, 0.0, 0.0, 0.0],
    ]
    a = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(df, cents).collect()
    }
    b = {
        r["vec_id"]: r["cell"]
        for r in assign_cells_arrow(df, cents).collect()
    }
    assert a == b
    assert 3 not in set(b.values())  # the duplicate never wins a tie
    assert {b[200], b[201], b[202]} == {0}
    assert not {5, 6} & set(b.values())  # NaN / inf distances never win
    # the arrow form also passes the vector through unchanged
    row = assign_cells_arrow(df, cents).filter("vec_id = 5").collect()[0]
    assert list(np.float32(row["embedding"])) == list(X[5])
    edge = [1e-05, -0.0, 5e-324, 1.7976931348623157e308, nan, inf, -inf]
    (got,) = spark.range(1).select(_model_lit([edge])).first()[0]
    assert [repr(v) for v in got] == [repr(v) for v in edge]
    assert math.copysign(1.0, got[1]) == -1.0


def test_model_expressions_do_not_grow_with_model_size(spark):
    """Each driver-side model enters the plan as ONE literal: the
    optimized expression of assign_cells' ``cell`` (flat and
    two-level) and of hyperplane_signature's ``bucket`` has the same
    node count whatever the number of centroids or planes."""
    import random

    from faust_spark.operators.similarity import (
        assign_cells,
        assign_cells_two_level,
    )

    df = spark.createDataFrame(
        [(0, [0.0] * 8)], "vec_id bigint, embedding array<double>"
    )
    rng = random.Random(1)

    def cents(k):
        return [[rng.random() for _ in range(8)] for _ in range(k)]

    def nodes(out, name):
        exprs = out._jdf.queryExecution().optimizedPlan().expressions()
        (e,) = [
            exprs.apply(i)
            for i in range(exprs.length())
            if exprs.apply(i).name() == name
        ]
        return len(e.treeString().splitlines())

    flat = [nodes(assign_cells(df, cents(k)), "cell") for k in (4, 64)]
    two = [
        nodes(assign_cells_two_level(df, cents(k)), "cell") for k in (16, 64)
    ]
    bits = [
        nodes(hyperplane_signature(df, n, 8), "bucket") for n in (4, 32)
    ]
    assert flat[0] == flat[1]
    assert two[0] == two[1]
    assert bits[0] == bits[1]


def test_nearest_centroid_malformed_rows_match_engine(spark):
    """NULL, wrong-length and NaN vectors: the Arrow kernel assigns what
    the in-engine expression does (cell 0 — NULL distances sort first, a
    NaN distance never wins) instead of raising in the Python worker,
    and passes the vector through untouched. PQ encoding applies the
    rule per group: the 3-dim vector has well-formed 1-dim subspace
    slices but no 2-dim coarse cell."""
    import math

    from faust_spark.operators.similarity import (
        assign_cells,
        assign_cells_arrow,
        kmeans_fit,
        pq_encode,
    )

    df = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [5.0, 5.0]),
            (2, None),
            (3, [5.0, 5.0, 5.0]),
            (4, [float("nan"), 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [5.0, 5.0]]
    want = {r["vec_id"]: r["cell"] for r in assign_cells(df, cents).collect()}
    assert want == {0: 0, 1: 1, 2: 0, 3: 0, 4: 0}
    got = {r["vec_id"]: r for r in assign_cells_arrow(df, cents).collect()}
    assert {i: r["cell"] for i, r in got.items()} == want
    assert got[2]["embedding"] is None
    assert math.isnan(got[4]["embedding"][0])
    enc = pq_encode(
        df.withColumnRenamed("vec_id", "nid"),
        [[[0.0], [5.0]], [[0.0], [5.0]]],
        coarse=cents,
    )
    got = {r["nid"]: (list(r["codes"]), r["cell"]) for r in enc.collect()}
    assert got == {
        0: ([0, 0], 0),
        1: ([1, 1], 1),
        2: ([0, 0], 0),
        3: ([1, 1], 0),
        4: ([0, 0], 0),
    }
    # the Lloyd update averages the 3-dim member into a 3-wide centroid;
    # the next round's kernel follows the expression's NULL-distance
    # rule for it, so both fits agree (NaN included, hence repr)
    fit = kmeans_fit(df, k=2, iters=2)
    assert repr(fit) == repr(kmeans_fit(df, k=2, iters=2, round_dp=9))
    assert len(fit[2][1]) == 3


def test_pq_encode_codes_match_first_minimum_argmin(spark):
    """pq_encode's codes (and its coarse cell) equal a plain-Python
    argmin per subspace: squared distance folded over ascending
    dimensions from 0.0, the FIRST minimum winning — so a duplicated
    codebook centroid always resolves to the lower code."""
    import numpy as np

    from faust_spark.operators.similarity import pq_encode

    rng = np.random.RandomState(5)
    X = np.float32(rng.randn(60, 6))
    rows = [[float(v) for v in x] for x in X]
    df = spark.createDataFrame(
        list(enumerate(rows)), "nid bigint, embedding array<float>"
    )
    m, d = 3, 2
    # code 2 duplicates code 1 in every subspace, coarse cell 2 duplicates
    # cell 1: vectors 1 and 3 sit at distance 0 from both copies
    books = [
        [rows[i][j * d:(j + 1) * d] for i in (0, 1, 1, 2)] for j in range(m)
    ]
    coarse = [rows[i] for i in (0, 3, 3, 4)]

    def argmin(v, cents):
        best, best_i = float("inf"), 0
        for i, c in enumerate(cents):
            acc = 0.0
            for a, b in zip(v, c):
                acc += (a - b) * (a - b)
            if acc < best:  # strict: first minimum
                best, best_i = acc, i
        return best_i

    want = {
        n: (
            [argmin(v[j * d:(j + 1) * d], books[j]) for j in range(m)],
            argmin(v, coarse),
        )
        for n, v in enumerate(rows)
    }
    got = {
        r["nid"]: (list(r["codes"]), r["cell"])
        for r in pq_encode(df, books, coarse=coarse).collect()
    }
    assert got == want
    assert want[1][0] == [1, 1, 1] and want[3][1] == 1  # ties exercised
    assert all(2 not in codes and cell != 2 for codes, cell in got.values())
    # without ``coarse`` the codes are the same
    plain = {
        r["nid"]: list(r["codes"])
        for r in pq_encode(df, books).collect()
    }
    assert plain == {n: codes for n, (codes, _) in want.items()}


def test_rp_shortlist_recall_and_rerank_exactness(spark, sf_dir):
    """Random-projection ANN: (a) recall@5 meets the gate contract on
    the fixture corpus; (b) the re-rank stage is EXACT — every emitted
    (qid, nid) the exact ranking also contains must carry the same
    rank, because the full-dim cosine and tie-break are identical."""
    from faust_spark.operators.similarity import rp_shortlist_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = {(r.qid, r.nid): r.rank for r in cosine_topk(emb, q, k=5).collect()}
    approx = {
        (r.qid, r.nid): r.rank
        for r in rp_shortlist_topk(
            emb, q, k=5, proj_dim=32, shortlist=200
        ).collect()
    }
    hits = set(exact) & set(approx)
    assert len(hits) >= 0.8 * len(exact), (len(hits), len(exact))
    # a query whose full top-5 survived the shortlist must emit the
    # exact ranks verbatim (per-query, since a lost neighbor shifts
    # the ranks below it)
    for qid in {k[0] for k in exact}:
        e5 = {k for k in exact if k[0] == qid}
        if e5 <= set(approx):
            assert all(approx[k] == exact[k] for k in e5)


def test_rp_shortlist_zero_norm_guard(spark):
    """ADVICE r8: zero-norm vectors yield non-finite projected cosines;
    they must be masked out of the shortlist, not sort FIRST as NaN. A
    zero-norm corpus row never appears as a neighbor; a zero-norm query
    returns no rows instead of an arbitrary NaN-ranked list."""
    import numpy as np

    from faust_spark.operators.similarity import rp_shortlist_topk

    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 64)).astype(float)
    X[13] = 0.0  # zero-norm corpus row
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(0, [float(v) for v in X[0]]), (99, [0.0] * 64)],
        "qid long, embedding array<double>",
    )
    got = rp_shortlist_topk(df, q, k=5, proj_dim=16, shortlist=10).collect()
    assert all(r.nid != 13 for r in got)
    assert all(r.qid != 99 for r in got)  # zero-norm query: no rows
    assert {r.rank for r in got if r.qid == 0} == {1, 2, 3, 4, 5}


def test_rp_shortlist_partial_topk_matches_full_window(spark):
    """The r9 per-batch partial top-k is a lossless shortlist
    generator: with shortlist >= corpus the result must equal the exact
    brute-force ranking, and across many input partitions (each batch
    keeping its own partial top) no true candidate is lost."""
    import numpy as np

    from faust_spark.operators.similarity import rp_shortlist_topk

    rng = np.random.default_rng(11)
    X = rng.normal(size=(60, 64)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    ).repartition(8)  # many partitions -> many partial top-k batches
    q = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(3)],
        "qid long, embedding array<double>",
    )
    exact = {
        (r.qid, r.nid): r.rank for r in cosine_topk(df, q, k=5).collect()
    }
    approx = {
        (r.qid, r.nid): r.rank
        for r in rp_shortlist_topk(
            df, q, k=5, proj_dim=32, shortlist=60
        ).collect()
    }
    assert approx == exact


def test_kmeans_fit_vectors_only_frame(spark):
    """ADVICE r8: kmeans_fit on a frame WITHOUT id_col seeds by the
    vector instead of raising a missing-column error (assignment needs
    only the vector, on both the rounded and the full-precision path),
    and matches the id-bearing fit when the id order equals the vector
    order."""
    import numpy as np

    from faust_spark.operators.similarity import kmeans_fit

    rng = np.random.default_rng(3)
    X = np.sort(rng.normal(size=(30, 4)), axis=0)  # vec order == id order
    rows = [[float(v) for v in x] for x in X]
    with_id = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)],
        "vec_id long, embedding array<double>",
    )
    no_id = spark.createDataFrame(
        [(r,) for r in rows], "embedding array<double>"
    )
    a = kmeans_fit(with_id, k=3, iters=2, round_dp=9)
    b = kmeans_fit(no_id, k=3, iters=2, round_dp=9)
    assert a == b
    # full-precision path also works without ids
    c = kmeans_fit(no_id, k=3, iters=1)
    assert len(c) == 2 and len(c[1]) == 3


def test_kmeans_seeds_skip_null_vectors(spark):
    """A NULL vector among the lowest ids (or first in vector order) is
    not a seed: every fit seeds from the k lowest-id non-NULL vectors,
    and since a NULL vector adds nothing to any average, the whole
    trajectory equals the fit of the frame without that row (to float
    summation order on the full-precision paths)."""
    import numpy as np

    from faust_spark.operators.similarity import (
        kmeans_centroids_multi,
        kmeans_fit,
    )

    rng = np.random.default_rng(5)
    rows = [(i, [float(v) for v in rng.normal(size=4)]) for i in range(1, 25)]
    schema = "vec_id long, embedding array<double>"
    clean = spark.createDataFrame(rows, schema)
    dirty = spark.createDataFrame([(0, None)] + rows, schema)
    assert kmeans_fit(dirty, k=3, iters=2, round_dp=9) == kmeans_fit(
        clean, k=3, iters=2, round_dp=9
    )
    got = kmeans_fit(dirty, k=3, iters=2)
    want = kmeans_fit(clean, k=3, iters=2)
    assert got[0] == want[0] and np.allclose(got, want, rtol=0, atol=1e-12)
    assert kmeans_fit(
        dirty.select("embedding"), k=3, iters=1, round_dp=9
    ) == kmeans_fit(clean.select("embedding"), k=3, iters=1, round_dp=9)
    specs = [(1, 4, 3), (1, 2, 2), (3, 2, 2)]
    got = kmeans_centroids_multi(dirty, specs)
    want = kmeans_centroids_multi(clean, specs)
    assert all(
        np.allclose(g, w, rtol=0, atol=1e-12) for g, w in zip(got, want)
    )


def test_hyperplane_params_sql_rule_matches_python():
    """The stream_embedding_dedup oracle computes hyperplane_params in
    SQL from COUNT(*); the engines' double math must agree at every
    corpus size (same cross-engine pin as simhash_params)."""
    import duckdb

    from faust_spark.operators.similarity import hyperplane_params

    ns = {500, 1000, 2000, 5000, 1, 2, 3}
    for p in range(1, 31):
        ns.update({2**p - 1, 2**p, 2**p + 1, 4 * 2**p})
    con = duckdb.connect()
    rows = con.sql(
        "SELECT n, LEAST(16, GREATEST(8, CAST(ceil(log2("
        "GREATEST(n, 2) / 4.0)) AS INT))) AS w FROM (SELECT "
        "unnest($ns) AS n)",
        params={"ns": sorted(ns)},
    ).fetchall()
    for n, sql_w in rows:
        assert sql_w == hyperplane_params(n), n
    assert hyperplane_params(500) == 8      # sf0.001 / tiny corpora
    assert hyperplane_params(2000) == 9     # sf0.1 embeddings
    assert hyperplane_params(10**9) == 16   # capped


@pytest.mark.slow
def test_serve_cache_bit_parity_with_inline(spark, sf_dir):
    """The serve-index artifact must be invisible in the results: the
    served path (r12: the ON-DISK cell-partitioned index built by
    operators/similarity.build_*_index, which the entry gates build
    once and probe thereafter) returns exactly the rows of the inline
    fit-per-call path — same deterministic fit, same encode, same
    tie-breaks."""
    from faust_spark.catalog import load_table
    from faust_spark.operators.similarity import cosine_topk  # noqa: F401
    from faust_spark.operators.similarity import ivf_topk, ivfpq_topk
    from faust_spark.queries.pipeline import (
        ivf_topk_serve_raw,
        ivfpq_topk_serve_raw,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )

    cached = sorted(
        (r.qid, r.nid)
        for r in ivf_topk_serve_raw(spark, sf_dir).collect()
    )
    inline = sorted(
        (r.qid, r.nid)
        for r in ivf_topk(
            emb, queries, k=5, n_cells=16, nprobe=4
        ).select("qid", "nid").collect()
    )
    assert cached == inline

    n = emb.count()
    cached_pq = sorted(
        (r.qid, r.nid)
        for r in ivfpq_topk_serve_raw(spark, sf_dir).collect()
    )
    inline_pq = sorted(
        (r.qid, r.nid)
        for r in ivfpq_topk(
            emb, queries, k=5, n_cells=16, nprobe=4, m=4, ksub=16,
            shortlist=max(50, n // 10),
        ).select("qid", "nid").collect()
    )
    assert cached_pq == inline_pq


@pytest.mark.slow
def test_hyperplane_bands_arrow_bit_parity(spark, sf_dir):
    """r12: the one-pass Arrow band signatures must be bit-identical to
    the per-table hyperplane_signature expression form — same md5
    planes, same ascending IEEE fold, same NULL/width handling — for
    every vector and every table (the streaming embedding sink's state
    layout and oracle depend on it)."""
    from pyspark.sql import functions as F

    from faust_spark.catalog import load_table
    from faust_spark.operators.similarity import (
        hyperplane_bands_arrow,
        hyperplane_signature,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_tables, n_planes = 4, 12
    expr = {}
    for t in range(n_tables):
        for r in hyperplane_signature(
            emb, n_planes=n_planes, dim=64, seed=t + 1
        ).select("vec_id", "bucket").collect():
            expr[(r.vec_id, t)] = r.bucket
    arrow = {
        (r.vec_id, r.band): r.band_sig
        for r in hyperplane_bands_arrow(
            emb, n_tables=n_tables, n_planes=n_planes, dim=64
        ).collect()
    }
    assert arrow == expr

    # NULL / wrong-width vectors → all-zero bits, like the expression's
    # NULL-fold -> otherwise("0") path
    odd = spark.createDataFrame(
        [(1, None), (2, [1.0] * 10)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r.vec_id, r.band): r.band_sig
        for r in hyperplane_bands_arrow(
            odd, n_tables=2, n_planes=5, dim=64
        ).collect()
    }
    assert set(got.values()) == {"00000"}
    assert len(got) == 4
