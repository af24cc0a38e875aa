"""Dedup operators: planted duplicates must be found."""

import pytest

from pyspark.sql import functions as F

from faust_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    shingles,
    simhash,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while the cat sleeps "
    "in the warm sun near the old barn door"
)
NEAR = DOC.replace("lazy", "sleepy")  # one word differs → high jaccard
OTHER = (
    "completely different content about spark structured streaming "
    "state stores checkpoints and watermark semantics at scale"
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(0, DOC), (1, DOC), (2, NEAR), (3, OTHER)], ["doc_id", "text"]
    )


def test_exact_dedup_groups(docs):
    rows = {r.keeper_id: r.n_dups for r in exact_dedup(docs).collect()}
    assert rows[0] == 2       # docs 0,1 identical
    assert rows[2] == 1 and rows[3] == 1


def test_short_and_empty_docs_dont_crash(spark):
    docs = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two words"), (3, "exactly three words")],
        ["doc_id", "text"],
    )
    sh = shingles(docs).collect()
    assert {r.doc_id for r in sh} == {3}  # only the 3-word doc shingles
    assert jaccard_pairs(docs, threshold=0.1).count() == 0
    assert simhash(docs).count() == 4
    assert exact_dedup(docs).count() == 4


def test_text_ops_null_and_empty(spark):
    from faust_spark.operators.text import lang_id, quality_score

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "the quick fox")], "doc_id long, text string"
    )
    q = {r.doc_id: r for r in quality_score(docs).collect()}
    assert q[0].quality_ok == 0 and q[1].quality_ok == 0
    assert q[1].alpha_ratio is None  # empty text → null ratio, no div-zero
    l = {r.doc_id: r for r in lang_id(docs).collect()}
    assert l[0].pred_lang is None
    assert l[2].pred_lang == "en"


def test_shingles_count(docs, spark):
    n_words = len(DOC.split())
    got = shingles(docs.filter("doc_id = 0")).count()
    assert got <= n_words - 2  # distinct ≤ positional count


def test_jaccard_finds_exact_and_near(docs):
    pairs = {
        (r.doc1, r.doc2): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert all(3 not in p for p in pairs)


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc quoted verbatim inside a long doc: Jaccard is tiny
    (union dominated by the long doc) but containment is 1.0."""
    from faust_spark.operators.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    long_doc = (
        "intro paragraph about something entirely different here "
        + quote
        + " followed by many more unrelated words about spark catalyst "
        "tungsten codegen shuffles partitions and watermarks at scale"
    )
    docs = spark.createDataFrame(
        [(0, quote), (1, long_doc), (2, OTHER)], ["doc_id", "text"]
    )
    got = {
        (r.doc1, r.doc2): r.containment
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert got == {(0, 1): 1.0}
    # jaccard at the same bar finds nothing
    assert (
        jaccard_pairs(docs, threshold=0.8)
        .filter("doc1 = 0 and doc2 = 1")
        .count()
        == 0
    )


@pytest.mark.slow
def test_minhash_lsh_finds_exact_dup(docs):
    pairs = {
        (r.doc1, r.doc2)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs          # identical docs always collide
    assert all(3 not in p for p in pairs)


@pytest.mark.slow
def test_minhash_lsh_collapse_matches_uncollapsed(spark):
    """The exact-dup pre-collapse (mega-bucket guard) must be invisible
    in the results: a corpus with a planted identical-doc cluster gives
    the same pair set collapsed or not — but the collapsed plan's band
    self-join only ever sees one row per distinct text."""
    rows = [(i, DOC) for i in range(8)]  # 8-doc identical cluster
    rows += [(8, NEAR), (9, OTHER), (10, "too short")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kw = dict(threshold=0.5, num_hashes=16, band_size=4)
    got = sorted(
        (r.doc1, r.doc2, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(docs, collapse_exact=True, **kw).collect()
    )
    want = sorted(
        (r.doc1, r.doc2, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(docs, collapse_exact=False, **kw).collect()
    )
    assert got == want
    # the cluster produced all 28 intra pairs at jaccard 1.0
    assert sum(1 for d1, d2, j in got if d2 <= 7) == 28
    assert all(j == 1.0 for d1, d2, j in got if d2 <= 7)


@pytest.mark.slow
def test_minhash_lsh_bucket_cap_drops_mega_buckets(spark):
    """max_bucket_size caps the band self-join: a near-identical
    (NOT byte-identical, so the exact collapse can't merge it) cluster
    larger than the cap generates no candidates."""
    # 6 distinct near-identical docs: each differs in one trailing word
    rows = [(i, DOC + f" tail{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = minhash_lsh_pairs(docs, threshold=0.5).count()
    assert uncapped > 0
    capped = minhash_lsh_pairs(
        docs, threshold=0.5, max_bucket_size=5
    ).count()
    assert capped < uncapped


def test_containment_matches_bruteforce_property(spark):
    """Hypothesis-style randomized cross-check: containment_pairs equals
    the brute-force set computation on random small corpora."""
    import random

    from faust_spark.operators.dedup import containment_pairs

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rng = random.Random(17)
    for trial in range(3):
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 12))))
            for i in range(12)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            (r.doc1, r.doc2): round(r.containment, 9)
            for r in containment_pairs(df, threshold=0.5, n=3).collect()
        }

        def sh(t):
            w = t.split()
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        want = {}
        for i, ti in docs:
            for j, tj in docs:
                if i >= j:
                    continue
                a, b = sh(ti), sh(tj)
                if not a or not b:
                    continue
                c = len(a & b) / min(len(a), len(b))
                if c >= 0.5:
                    want[(i, j)] = round(c, 9)
        assert got == want, f"trial {trial}"


@pytest.mark.slow
def test_connected_components_bounded_plan_depth(spark, monkeypatch):
    """15+ label-propagation rounds must NOT grow the logical plan
    linearly: every round's iterate is checkpointed, so the final plan
    depth is bounded by one round regardless of iteration count
    (VERDICT r4 item 7)."""
    from faust_spark.operators import graph
    from faust_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "_SMALL_GRAPH_EDGES", 0)
    # path graph 0-1-2-...-16: min-label needs ~16 rounds to reach the end
    n = 17
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc1", "doc2"]
    )
    out = connected_components(nodes, pairs, max_iterations=20)
    comp = {r.doc_id: r.component for r in out.collect()}
    assert comp == {i: 0 for i in range(n)}  # one chain component
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the checkpoint shows up as a LogicalRDD leaf: lineage no longer
    # reaches back to the original scans through all 16 rounds
    assert "LogicalRDD" in plan, "no checkpoint leaf — lineage not cut"
    # and the rendered plan stays bounded (each un-truncated round DOUBLES
    # the tree — 16 rounds would render tens of thousands of lines; the
    # truncated tail is the last round's checkpoint)
    plan_lines = len(plan.splitlines())
    assert plan_lines < 1500, f"plan depth {plan_lines} — lineage not cut"


def test_simhash_identical_docs_equal_fingerprint(docs):
    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[3]
    assert 0 <= fps[0] < 2**32


def _planted_embeddings(spark, n=300, dim=32, dups=25, seed=7):
    """Random unit vectors plus planted near-duplicates (cosine ~0.97+)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    M = rng.normal(size=(n, dim))
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    for i in range(dups):  # vec n-dups+i := tiny perturbation of vec i
        v = M[i] + 0.03 * rng.normal(size=dim)
        M[n - dups + i] = v / np.linalg.norm(v)
    rows = [(int(i), [float(x) for x in M[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_dup_exact_blockgrid_matches_bruteforce(spark):
    """The block-grid GEMM path must emit every qualifying unordered pair
    exactly once — cross-checked against an in-memory numpy brute force."""
    import numpy as np

    from faust_spark.operators.dedup import _block_grid_gemm

    df = _planted_embeddings(spark)
    got = {
        (r.doc1, r.doc2)
        for r in _block_grid_gemm(
            df, "vec_id", "embedding", 0.30, blocks=8
        ).collect()
    }
    rows = sorted(df.collect(), key=lambda r: r.vec_id)
    M = np.array([r.embedding for r in rows])
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    want = {
        (i, j)
        for i in range(len(rows))
        for j in range(i + 1, len(rows))
        if S[i, j] >= 0.30
    }
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_embedding_dup_lsh_full_recall_on_near_dups(spark):
    """At near-dup thresholds the banded-LSH default must find the same
    pairs as the exact path (recall 1 on planted dups), from a candidate
    set far below n^2/2."""
    from faust_spark.operators.dedup import (
        _block_grid_gemm,
        _lsh_candidate_pairs,
        embedding_dup_pairs,
    )

    df = _planted_embeddings(spark)
    exact = {
        (r.doc1, r.doc2)
        for r in _block_grid_gemm(
            df, "vec_id", "embedding", 0.95, blocks=8
        ).collect()
    }
    lsh = {
        (r.doc1, r.doc2)
        for r in embedding_dup_pairs(df, threshold=0.95, dim=32).collect()
    }
    assert len(exact) >= 20  # the planted structure is actually there
    assert lsh == exact
    n = df.count()
    n_cand = _lsh_candidate_pairs(
        df, "vec_id", "embedding", n_planes=6, bands=8, dim=32
    ).count()
    assert n_cand < n * (n - 1) / 2 * 0.25  # candidates well below all pairs


def test_keep_best_prefers_quality_over_id(spark):
    """Whitespace/case variants collide; the longest member wins even when
    a lower id exists."""
    from faust_spark.operators.dedup import keep_best

    df = spark.createDataFrame(
        [
            (1, "Hello   World", 13),
            (2, "hello world", 11),      # same normalized content, shorter
            (3, "HELLO  WORLD  ", 14),   # longest variant, highest id
            (4, "something else", 14),
        ],
        "doc_id long, text string, n_chars int",
    )
    rows = {r.keeper_id: r for r in keep_best(df).collect()}
    assert set(rows) == {3, 4}
    assert rows[3].n_in_group == 3 and rows[3].keeper_quality == 14
    assert rows[4].n_in_group == 1


def test_incremental_dedup_drops_corpus_dups_keeps_fresh(spark):
    from faust_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different corpus sentence about spark plans"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # near-identical to corpus doc 1 -> must be dropped
            (10, "the quick brown fox jumps over the lazy dog now"),
            # genuinely fresh -> must survive
            (11, "unrelated fresh document with novel words entirely"),
            # near-dup of ANOTHER NEW doc but not of corpus -> survives
            # (incremental mode never compares new x new)
            (12, "unrelated fresh document with novel words entirely ok"),
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in incremental_dedup(new, corpus, 0.5).collect()}
    assert kept == {11, 12}


# ---------------------------------------------------------------------
# substring_dup_spans (ExactSubstr, Lee et al. ACL 2022)
# ---------------------------------------------------------------------


def test_substring_dup_spans_known_values(spark):
    from faust_spark.operators.dedup import substring_dup_spans

    df = spark.createDataFrame(
        [
            (1, "abcdefgh"),  # windows @1,3,5: abcd cdef efgh
            (2, "xxabcdef"),  # windows: xxab abcd cdef
            (3, "zzzz"),  # one window, unique
            (4, "ab"),  # shorter than the window -> zero windows
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in substring_dup_spans(df, window=4, stride=2).collect()
    }
    assert len(out) == 4
    # abcd + cdef are shared between docs 1 and 2
    assert (out[1].n_windows, out[1].n_dup_windows) == (3, 2)
    assert abs(out[1].dup_ratio - 2 / 3) < 1e-12
    assert (out[2].n_windows, out[2].n_dup_windows) == (3, 2)
    assert (out[3].n_windows, out[3].n_dup_windows) == (1, 0)
    assert out[3].dup_ratio == 0.0
    assert (out[4].n_windows, out[4].n_dup_windows) == (0, 0)
    assert out[4].dup_ratio == 0.0


def test_substring_dup_spans_exact_copies_all_dup(spark):
    from faust_spark.operators.dedup import substring_dup_spans

    df = spark.createDataFrame(
        [(1, DOC), (2, DOC), (3, OTHER)], "doc_id int, text string"
    )
    out = {
        r.doc_id: r
        for r in substring_dup_spans(df, window=20, stride=5).collect()
    }
    # exact copies: every window duplicated
    assert out[1].n_windows > 0
    assert out[1].n_dup_windows == out[1].n_windows
    assert out[1].dup_ratio == 1.0
    assert out[2].dup_ratio == 1.0
    # unrelated doc: nothing duplicated
    assert out[3].n_dup_windows == 0


def test_remove_dup_spans_known_values(spark):
    import hashlib

    from faust_spark.operators.dedup import remove_dup_spans

    # window=4, stride=2: doc1/doc2 share "abcd" (doc1 @1, doc2 @3);
    # doc3 unrelated -> untouched
    df = spark.createDataFrame(
        [(1, "abcdXY"), (2, "ZZabcd"), (3, "qrstuv")],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_dup_spans(df, window=4, stride=2).collect()
    }
    # doc1 windows @1 "abcd", @3 "cdXY"; doc2 @1 "ZZab", @3 "abcd"
    # only "abcd" is cross-doc: doc1 loses chars 1-4, doc2 chars 3-6
    assert out[1].n_chars == 6 and out[1].n_kept == 2
    assert out[1].clean_md5 == hashlib.md5(b"XY").hexdigest()
    assert out[2].n_kept == 2
    assert out[2].clean_md5 == hashlib.md5(b"ZZ").hexdigest()
    assert out[3].n_kept == 6
    assert out[3].clean_md5 == hashlib.md5(b"qrstuv").hexdigest()


@pytest.mark.slow
def test_jaccard_prefix_equals_exact_property(spark):
    """Prefix-filtered Jaccard join (PPJoin prefix + length filters) is
    EXACT: identical pairs and values to the capless co-occurrence form
    on random corpora, across thresholds — including hub-heavy corpora
    where every doc shares a stop-shingle."""
    import random

    from faust_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rng = random.Random(23)
    for trial, thr in [(0, 0.3), (1, 0.5), (2, 0.8)]:
        docs = [
            (
                i,
                # shared stop-phrase prefix on most docs → hub shingles
                ("the quick brown " if rng.random() < 0.7 else "")
                + " ".join(
                    rng.choice(vocab) for _ in range(rng.randint(2, 12))
                ),
            )
            for i in range(14)
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        exact = {
            (r.doc1, r.doc2): round(r.jaccard, 9)
            for r in jaccard_pairs(df, threshold=thr).collect()
        }
        pref = {
            (r.doc1, r.doc2): round(r.jaccard, 9)
            for r in jaccard_pairs_prefix(df, threshold=thr).collect()
        }
        assert pref == exact, f"trial {trial} thr {thr}"


def test_jaccard_prefix_joins_only_prefix_tokens(spark):
    """The candidate join's input is the prefix fraction of the shingle
    table, with hub shingles absent from prefixes unless a doc has
    almost nothing rarer — the structural (non-approximating) hub
    guard."""
    from faust_spark.operators.dedup import (
        _canonical_sets,
        _prefixes,
        shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "common common phrase one two three four"),
            (2, "common common phrase five six seven eight"),
            (3, "common common phrase nine ten eleven twelve"),
        ],
        ["doc_id", "text"],
    )
    sets = _canonical_sets(shingles(docs, 3), "doc_id")
    # every doc has 5 shingles; the hub 'common common phrase' (df 3)
    # sorts last in each canonical set
    assert {
        r.doc_id: (r.n_sh, r.set[-1]) for r in sets.collect()
    } == {i: (5, "common common phrase") for i in (1, 2, 3)}
    # with t=0.5 each doc's prefix holds its rarest 5 - ceil(2.5) + 1 = 3
    # shingles, ranked 1..3 — the hub shingle is in no prefix
    pref = _prefixes(sets, 0.5, "doc_id").collect()
    assert sorted((r.doc_id, r.rn) for r in pref) == [
        (i, rn) for i in (1, 2, 3) for rn in (1, 2, 3)
    ]
    assert all(r.shingle != "common common phrase" for r in pref)


def test_jaccard_prefix_malformed_inputs_match_exact(spark):
    """NULL text, empty text, documents shorter than n words and exact
    duplicates (J = 1.0): the prefix join returns exactly the capless
    co-occurrence pairs at every threshold, the boundary t = 1.0
    included."""
    from faust_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    df = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "too short"),
            (4, "a b c d e f"),
            (5, "a b c d e f"),
            (6, "a b c d e g"),
            (7, "a b c x y z"),
            (8, "too short"),
            (9, None),
            (10, "q r s"),
            (11, "q r s"),
        ],
        "doc_id long, text string",
    )
    for thr in (0.3, 0.5, 1.0):
        exact = {
            (r.doc1, r.doc2): r.jaccard
            for r in jaccard_pairs(df, threshold=thr).collect()
        }
        pref = {
            (r.doc1, r.doc2): r.jaccard
            for r in jaccard_pairs_prefix(df, threshold=thr).collect()
        }
        assert pref == exact, thr
        assert {(4, 5), (10, 11)} <= set(pref), thr


def test_semantic_dup_cells_chunked_matches_brute_force(spark):
    """semantic_dedup agrees on every row with a plain-Python brute
    force — squared distances folded over ascending dimensions from
    0.0, lowest cell on ties, within-cell cosine as the ascending dot
    fold over the norm product, a row flagged iff a lower-id row of its
    cell reaches the threshold — including when a cell is larger than
    the slab size, so flags accumulate across chunks."""
    import math

    import numpy as np

    from faust_spark.operators.dedup import (
        _semantic_dup_cells,
        semantic_dedup,
    )
    from faust_spark.operators.similarity import assign_cells_arrow

    rng = np.random.RandomState(3)
    base = np.float32(rng.randn(40, 5))
    # plant near-dups: rows 40..79 are rows 0..39 nudged by a constant
    X = np.vstack([base, base + np.float32(1e-4)])
    rows = [[float(v) for v in x] for x in X]
    df = spark.createDataFrame(
        list(enumerate(rows)), "vec_id bigint, embedding array<float>"
    )
    cents = rows[:4]

    def fold(terms):
        acc = 0.0
        for t in terms:
            acc += t
        return acc

    cell = []
    for v in rows:
        best, best_c = math.inf, 0
        for ci, c in enumerate(cents):
            dist = fold((a - b) * (a - b) for a, b in zip(v, c))
            if dist < best:  # strict: the lowest cell wins a tie
                best, best_c = dist, ci
        cell.append(best_c)
    nrm = [math.sqrt(fold(a * a for a in v)) for v in rows]
    expect = {
        i: (
            cell[i],
            any(
                cell[h] == cell[i]
                and fold(a * b for a, b in zip(rows[h], rows[i]))
                / (nrm[h] * nrm[i])
                >= 0.9
                for h in range(i)  # ids ascend with the row index
            ),
        )
        for i in range(len(rows))
    }
    got = {
        r.vec_id: (r.cell, r.is_dup)
        for r in semantic_dedup(df, cents, threshold=0.9).collect()
    }
    assert got == expect
    # slab boundary: chunk smaller than the cell population must not
    # change anything
    tiny = {
        r.vec_id: (r.cell, r.is_dup)
        for r in _semantic_dup_cells(
            assign_cells_arrow(df, cents),
            threshold=0.9,
            id_col="vec_id",
            vec_col="embedding",
            chunk=3,
        ).collect()
    }
    assert tiny == expect
    assert any(d for _, d in expect.values())  # the planted dups are found
    assert len(set(cell)) > 1  # more than one cell is exercised


@pytest.mark.slow
def test_simhash_near_pairs_matches_brute_force(spark):
    """Pigeonhole banding must be lossless: the banded pair set equals
    the all-pairs Hamming filter, at every supported radius."""
    from faust_spark.operators.dedup import simhash, simhash_near_pairs

    # word-salad corpus with planted near-dups (identical + 1-word-off
    # docs land at Hamming 0 / small distances; unrelated docs far)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(30):
        doc = " ".join(words[(i + j) % len(words)] for j in range(8))
        rows.append((i, doc))
        rows.append((100 + i, doc))  # exact twin → Hamming 0
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    for r in (0, 3):
        want = set()
        for a in fps:
            for b in fps:
                if a < b and bin(fps[a] ^ fps[b]).count("1") <= r:
                    want.add((a, b))
        got = {
            (row.doc1, row.doc2)
            for row in simhash_near_pairs(docs, max_hamming=r).collect()
        }
        assert got == want and len(want) >= 30  # twins always present


def test_simhash_near_pairs_rejects_bad_radius(spark):
    from faust_spark.operators.dedup import simhash_near_pairs

    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=-1)
    with pytest.raises(ValueError):
        simhash_near_pairs(docs, max_hamming=32, bits=32)


def test_semantic_dup_cells_population_guard(spark):
    """VERDICT r8 item 4: a degenerate quantizer that funnels the whole
    corpus into one cell must raise a clear ValueError naming the cell
    and its population — before the pairwise slab allocates — instead
    of OOMing the Python worker."""
    import numpy as np
    import pytest
    from pyspark.errors.exceptions.captured import PythonException

    from faust_spark.operators.dedup import _semantic_dup_cells
    from faust_spark.operators.similarity import assign_cells_arrow

    rng = np.random.RandomState(5)
    X = np.float32(rng.randn(20, 4))
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id bigint, embedding array<float>",
    )
    # one centroid -> every row lands in cell 0
    a = assign_cells_arrow(df, [[0.0, 0.0, 0.0, 0.0]])
    with pytest.raises(PythonException, match="max_cell_rows bound of 8"):
        _semantic_dup_cells(a, threshold=0.9, max_cell_rows=8).collect()
    # at the default cap the same degenerate corpus still completes
    out = _semantic_dup_cells(a, threshold=0.9).collect()
    assert len(out) == 20


@pytest.mark.slow
def test_simhash_64bit_fingerprints_and_banding(spark):
    """bits=64 is the documented grow-the-chunk-width path (16-bit chunk
    keys at max_hamming=3). Bit 63 rides a negative two's-complement
    weight, so fingerprints can be negative bigints — xor/bit_count and
    the mask-after-shift chunk extraction must still be lossless vs the
    all-pairs brute force."""
    from faust_spark.operators.dedup import simhash, simhash_near_pairs

    import random

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(25):
        doc = " ".join(words[(i + j) % len(words)] for j in range(8))
        rows.append((i, doc))
        rows.append((100 + i, doc))  # exact twin -> Hamming 0
    # varied random-token docs: fingerprints ~uniform over 64 bits, so
    # the sign bit (negative bigint) is exercised w.h.p.
    rng = random.Random(41)
    for i in range(30):
        rows.append(
            (200 + i, " ".join(f"w{rng.randrange(10_000)}" for _ in range(12)))
        )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {r.doc_id: r.simhash for r in simhash(docs, bits=64).collect()}
    assert any(v < 0 for v in fps.values())
    want = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= 3
    }
    got = {
        (r.doc1, r.doc2)
        for r in simhash_near_pairs(docs, max_hamming=3, bits=64).collect()
    }
    assert got == want and len(want) >= 25


def test_simhash_rejects_bad_bits(spark):
    """ADVICE r9: bits > 64 would silently reuse the -(2^63) weight for
    every k >= 63 (corrupt fingerprints, possible long overflow) — the
    guard must fail loudly instead."""
    from faust_spark.operators.dedup import simhash

    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    for bad in (0, -8, 65, 128):
        with pytest.raises(ValueError, match="bits"):
            simhash(docs, bits=bad)


def test_simhash_params_rule():
    """VERDICT r9 item 1: the fingerprint width is a corpus-scaled RULE
    (chunk width ceil(log2(n/4)) clamped to [8, 16]), mirroring the
    _rp_params discipline — fixed 32-bit chunking goes quadratic once
    n >> 2^8 * chunks."""
    from faust_spark.operators.dedup import simhash_params

    assert simhash_params(0) == 32  # degenerate corpora hit the floor
    assert simhash_params(500) == 32  # sf0.01 stays the 32-bit family
    assert simhash_params(1024) == 32  # w = max(8, 8)
    assert simhash_params(5000) == 44  # sf0.1: w = ceil(log2(1250)) = 11
    assert simhash_params(20000) == 52  # the 4x probe corpus
    assert simhash_params(10**9) == 64  # capped by the bigint fingerprint
    # monotone nondecreasing in n (a bigger corpus never narrows chunks)
    widths = [simhash_params(n) for n in (1, 10, 10**3, 10**5, 10**7, 10**9)]
    assert widths == sorted(widths)
    # chunk count follows the radius: max_hamming=7 -> 8 chunks of 8 bits
    assert simhash_params(10**9, max_hamming=7) == 64


@pytest.mark.slow
def test_simhash_near_pairs_default_uses_scaled_width(spark):
    """bits=None (the default) must resolve to simhash_params(n) — on a
    tiny corpus that's the 32-bit family, and on a corpus past the
    4096-doc threshold the default must match the explicit WIDER run
    (44-bit), proving the count-derived rule is actually applied."""
    import random

    from faust_spark.operators.dedup import simhash_near_pairs, simhash_params

    rng = random.Random(7)
    n = 40
    rows = [
        (i, " ".join(f"w{rng.randrange(10_000)}" for _ in range(12)))
        for i in range(n)
    ]
    assert simhash_params(n) == 32  # tiny corpus -> default == legacy
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    default = {
        (r.doc1, r.doc2)
        for r in simhash_near_pairs(docs, max_hamming=3).collect()
    }
    explicit = {
        (r.doc1, r.doc2)
        for r in simhash_near_pairs(docs, max_hamming=3, bits=32).collect()
    }
    assert default == explicit

    # past the threshold: 4200 docs -> simhash_params picks 44 bits;
    # JVM-built corpus (a Python-list createDataFrame of 4200 rows
    # plans a slow local scan). Planted twins keep the output nonempty.
    assert simhash_params(4200) == 44
    big = spark.range(4200).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', 'w' || (id % 2100), 'x' || ((id * 7) % 2100), "
        "'y' || ((id * 13) % 2100), 'z' || ((id * 29) % 2100)) AS text",
    )
    d44 = {
        (r.doc1, r.doc2)
        for r in simhash_near_pairs(big, max_hamming=3, bits=44).collect()
    }
    dflt = {
        (r.doc1, r.doc2)
        for r in simhash_near_pairs(big, max_hamming=3).collect()
    }
    assert dflt == d44 and d44  # ids i and i+2100 share all 4 words


@pytest.mark.slow
def test_simhash_64bit_duckdb_oracle_parity(spark):
    """The simhash oracle CTE and the Spark fingerprints must agree at
    EVERY width the scaled rule can choose — the gate sfs only exercise
    32/44 bits, so the 64-bit family (negative two's-complement bigints,
    the k=63 branch of both engines) gets its own parity check here."""
    import random

    import duckdb

    from faust_spark.operators.dedup import simhash
    from faust_spark.queries.pipeline import _simhash_cte

    rng = random.Random(13)
    rows = [
        (i, " ".join(f"w{rng.randrange(10_000)}" for _ in range(12)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for bits in (32, 44, 64):
        got = {r.doc_id: r.simhash for r in simhash(docs, bits=bits).collect()}
        con = duckdb.connect()
        con.register(
            "documents",
            __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]),
        )
        want = {
            d: s
            for d, s in con.sql(
                f"WITH {_simhash_cte(str(bits))} "
                "SELECT doc_id, simhash FROM fp"
            ).fetchall()
        }
        assert got == want, f"bits={bits}"
    assert any(v < 0 for v in got.values())  # 64-bit run hit the sign bit


def test_simhash_params_sql_rule_matches_python():
    """The oracle computes simhash_params in SQL from COUNT(*); the two
    engines' double math (log2 + ceil) must agree at every corpus size
    — a drift at some n would silently hash-mismatch the gate. Sweep
    powers of two (the exactness boundary cases), their neighbors, and
    the fixture sizes."""
    import duckdb

    from faust_spark.operators.dedup import simhash_params

    ns = {500, 5000, 1, 2, 3, 4096, 4097, 20000}
    for p in range(1, 31):
        ns.update({2**p - 1, 2**p, 2**p + 1, 4 * 2**p})
    con = duckdb.connect()
    rows = con.sql(
        "SELECT n, 4 * LEAST(16, GREATEST(8, CAST(ceil(log2("
        "GREATEST(n, 2) / 4.0)) AS INT))) AS bits FROM (SELECT "
        "unnest($ns) AS n)",
        params={"ns": sorted(ns)},
    ).fetchall()
    for n, sql_bits in rows:
        assert sql_bits == simhash_params(n), n
