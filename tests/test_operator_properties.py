"""Property-based invariants for the corpus-prep operators (hypothesis).

Each property batches its hypothesis examples through a handful of tiny
Spark jobs (Spark-per-example would be prohibitively slow), asserting
invariants that must hold for ANY input — the corpus-prep analogue of
the window-math property suite.
"""

import pytest
import math

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

words = st.text(
    alphabet=st.sampled_from("abcxyz"), min_size=1, max_size=4
)
docs_strategy = st.lists(
    st.lists(words, min_size=1, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(docs=docs_strategy, frac=st.floats(0.01, 1.0))
@settings(max_examples=8, deadline=None)
@pytest.mark.slow
def test_stratified_sample_exact_ceil_property(spark, docs, frac):
    """For ANY corpus and fraction, every stratum yields exactly
    ceil(frac * n_g) rows."""
    from faust_spark.operators.sampling import stratified_sample

    rows = [(i, d, "g" + str(len(d) % 3)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "grp"])
    totals = {
        r.grp: r.n
        for r in df.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r.grp: r.n
        for r in stratified_sample(df, "grp", "doc_id", frac)
        .groupBy("grp")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {g: math.ceil(frac * n) for g, n in totals.items()}


@given(docs=docs_strategy)
@settings(max_examples=8, deadline=None)
def test_vocab_ids_are_dense_and_rank_ordered(spark, docs):
    """Token ids are 0..|V|-1 with no gaps, ordered by (freq DESC, term),
    and every kept term meets the cutoff."""
    from faust_spark.operators.text import build_vocab

    df = spark.createDataFrame([(d,) for d in docs], ["text"])
    out = build_vocab(df, min_freq=2).collect()
    ids = sorted(r.token_id for r in out)
    assert ids == list(range(len(out)))
    ordered = sorted(out, key=lambda r: (-r.freq, r.term))
    assert [r.token_id for r in ordered] == list(range(len(out)))
    assert all(r.freq >= 2 for r in out)


@given(
    s=st.text(
        alphabet=st.characters(
            codec="utf-8", exclude_categories=("Cs",)
        ),
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None)
@pytest.mark.slow
def test_normalize_text_idempotent(spark, s):
    """normalize(normalize(x)) == normalize(x) for arbitrary unicode."""
    from faust_spark.functions import normalize_text

    df = spark.createDataFrame([(s,)], "t string")
    once = df.select(normalize_text("t").alias("n"))
    twice = once.select(normalize_text("n").alias("n"))
    assert once.first().n == twice.first().n


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@given(
    docs=st.lists(
        st.text(alphabet=st.sampled_from("abc"), min_size=0, max_size=40),
        min_size=2,
        max_size=10,
        unique=True,
    ),
    k=st.integers(1, 6),
)
@settings(max_examples=12, deadline=None)
@pytest.mark.slow
def test_passjoin_exact_vs_bruteforce(spark, docs, k):
    """PassJoin segment blocking is LOSSLESS for ANY strings and any
    threshold: edit_distance_pairs_exact == the quadratic brute-force
    pair set, with identical distances. Exercises short-string pool,
    uneven segment lengths, empty strings, and length gaps > k."""
    from faust_spark.operators.dedup import edit_distance_pairs_exact

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        (r.doc1, r.doc2): r.dist
        for r in edit_distance_pairs_exact(df, k=k).collect()
    }
    want = {}
    for i, a in enumerate(docs):
        for j in range(i + 1, len(docs)):
            d = _lev(a, docs[j])
            if d <= k:
                want[(i, j)] = d
    assert got == want


@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("abc "), min_size=0, max_size=30),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=20, deadline=None)
@pytest.mark.slow
def test_substring_spans_match_bruteforce(spark, texts):
    """substring_dup_spans / remove_dup_spans agree with a quadratic
    Python oracle on random short strings (window=5, stride=2)."""
    import hashlib

    from faust_spark.operators.dedup import (
        remove_dup_spans,
        substring_dup_spans,
    )

    W, S = 5, 2
    rows = [(i, t) for i, t in enumerate(texts)]
    # brute force: window hashes per doc
    wins = {
        i: [(p, t[p : p + W]) for p in range(0, len(t) - W + 1, S)]
        for i, t in rows
    }
    owners = {}
    for i, ws in wins.items():
        for _, s in ws:
            owners.setdefault(s, set()).add(i)
    dup = {s for s, o in owners.items() if len(o) >= 2}
    exp_stats = {}
    exp_clean = {}
    for i, t in rows:
        ws = wins[i]
        ndup = sum(1 for _, s in ws if s in dup)
        exp_stats[i] = (len(ws), ndup)
        covered = set()
        for p, s in ws:
            if s in dup:
                covered.update(range(p, p + W))
        kept = "".join(c for j, c in enumerate(t) if j not in covered)
        exp_clean[i] = (len(t), len(kept), hashlib.md5(kept.encode()).hexdigest())

    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows)
        for r in substring_dup_spans(df, window=W, stride=S).collect()
    }
    assert got == exp_stats
    gotc = {
        r.doc_id: (r.n_chars, r.n_kept, r.clean_md5)
        for r in remove_dup_spans(df, window=W, stride=S).collect()
    }
    assert gotc == exp_clean


# ---- graph trainers (round 6): random graphs vs pure-python replicas


edges_strategy = st.lists(
    st.tuples(
        st.sampled_from(list("abcdefgh")),
        st.sampled_from(list("abcdefgh")),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=16,
)


@given(edges=edges_strategy)
@settings(max_examples=8, deadline=None)
@pytest.mark.slow
def test_pagerank_random_graphs_match_replica(spark, edges):
    from faust_spark.operators.graph import pagerank
    from tests.test_graph import _numpy_pagerank

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["rank"] for r in pagerank(df, iters=2).collect()
    }
    want = _numpy_pagerank(edges, iters=2)
    assert set(got) == set(want)
    assert all(abs(got[n] - want[n]) < 1e-9 for n in want), (got, want)
    # stochastic invariant: total rank ~1 under dangling redistribution
    assert abs(sum(got.values()) - 1.0) < 1e-5


@given(edges=edges_strategy)
@settings(max_examples=8, deadline=None)
@pytest.mark.slow
def test_label_propagation_random_graphs_match_replica(spark, edges):
    from faust_spark.operators.graph import label_propagation
    from tests.test_graph import _numpy_lpa

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, iters=2).collect()
    }
    assert got == _numpy_lpa(edges, 2)


@given(edges=edges_strategy)
@settings(max_examples=6, deadline=None)
@pytest.mark.slow
def test_hits_random_graphs_match_replica(spark, edges):
    from faust_spark.operators.graph import hits
    from tests.test_graph import _numpy_hits

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: (r["hub"], r["auth"])
        for r in hits(df, iters=2).collect()
    }
    hub, auth = _numpy_hits(edges, iters=2)
    assert set(got) == set(hub)
    for n in hub:
        assert abs(got[n][0] - hub[n]) < 1e-9
        assert abs(got[n][1] - auth[n]) < 1e-9


# the empty text, one token, exactly n=3 tokens, repeated and
# leading/trailing spaces, non-ASCII tokens, NULL
NGRAM_EDGE_TEXTS = ["", "a", "a b c", "  a  b ", "héllo wörld 日本 語", None]


@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("ab é日"), max_size=12),
        max_size=4,
    )
)
@settings(max_examples=3, deadline=None)
def test_ngram_expansion_matches_python_split(spark, texts):
    """shingles(n=3), the bigram stream under kn_bigram_logprob and
    dsir_logratio's unigram+bigram features expand exactly the n-grams
    of Python's ``text.split(' ')`` — empty tokens from repeated or
    edge spaces included; NULL text expands to nothing. bigram_logprob's
    scores equal a plain-Python Jelinek-Mercer model counted from the
    same split."""
    import math
    from collections import Counter

    from faust_spark.operators.dedup import shingles
    from faust_spark.operators.text import (
        bigram_logprob,
        dsir_logratio,
        kn_bigram_logprob,
    )

    rows = list(enumerate(NGRAM_EDGE_TEXTS + texts))
    df = spark.createDataFrame(
        [(i, t, i % 2 == 0) for i, t in rows],
        "doc_id long, text string, is_t boolean",
    )
    ws = {i: t.split(" ") for i, t in rows if t is not None}
    got = {(r.doc_id, r.shingle) for r in shingles(df, n=3).collect()}
    assert got == {
        (i, " ".join(w[j : j + 3]))
        for i, w in ws.items()
        for j in range(len(w) - 2)
    }
    got = {
        r.doc_id: r.n_bigrams
        for r in kn_bigram_logprob(df.select("doc_id", "text")).collect()
    }
    assert got == {i: max(len(ws.get(i, [])) - 1, 0) for i, _ in rows}
    got = {
        r.doc_id: r.n_feats for r in dsir_logratio(df, "is_t").collect()
    }
    assert got == {i: 2 * len(w) - 1 for i, w in ws.items()}
    pairs = {i: list(zip(w, w[1:])) for i, w in ws.items()}
    cvw = Counter(p for ps in pairs.values() for p in ps)
    cv = Counter()
    for (v, _), c in cvw.items():
        cv[v] += c
    cw = Counter(t for w in ws.values() for t in w)
    total = sum(cw.values())

    def nll(v, w):
        return -math.log(
            0.7 * cvw[v, w] / cv[v] + 0.3 * cw[w] / total
        )

    want = {
        i: sum(nll(*p) for p in ps) / len(ps) if ps else None
        for i, ps in pairs.items()
    }
    got = {
        r.doc_id: r.avg_nll
        for r in bigram_logprob(df.select("doc_id", "text")).collect()
    }
    assert set(got) == {i for i, _ in rows}
    for i, g in got.items():
        w = want.get(i)
        assert (g is None and w is None) or abs(g - w) < 1e-9, (i, g, w)
