"""Text-pipeline operators: repetition filters, decontamination,
domain stats, IVF ANN (operators/text.py, operators/similarity.py)."""

import pytest
from pyspark.sql import functions as F

from faust_spark.catalog import load_table
from faust_spark.operators.similarity import (
    assign_cells,
    cosine_topk,
    ivf_topk,
    kmeans_centroids,
)
from faust_spark.operators.text import (
    domain_stats,
    ngram_contamination,
    repetition_stats,
)


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),  # one word repeated 4x: top=1.0, dup_word=0.75,
            # bigrams: 3x "a a" -> dup_bigram = 2/3
            (2, "w x y z"),  # all unique: top=0.25, no dups
            (3, "a b a b a"),  # a:3 b:2 -> top=0.6, dup_word=3/5
            # bigrams: "a b","b a","a b","b a" -> dup = 2/4
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert rows[1].n_tokens == 4
    assert rows[1].top_word_frac == 1.0
    assert rows[1].dup_word_frac == 0.75
    assert abs(rows[1].dup_bigram_frac - 2 / 3) < 1e-12
    assert rows[2].top_word_frac == 0.25
    assert rows[2].dup_word_frac == 0.0
    assert rows[2].dup_bigram_frac == 0.0
    assert rows[3].top_word_frac == 0.6
    assert rows[3].dup_word_frac == 0.6
    assert rows[3].dup_bigram_frac == 0.5


def test_repetition_stats_single_word_doc(spark):
    """One-word docs have no bigrams — the fraction must be 0, not null,
    and sequence(1, 0) must not blow up."""
    df = spark.createDataFrame([(1, "solo")], "doc_id int, text string")
    r = repetition_stats(df).collect()[0]
    assert r.n_tokens == 1 and r.dup_bigram_frac == 0.0


def test_ngram_contamination_plants(spark):
    """A training doc sharing a 5-gram with the benchmark is flagged with
    the exact overlap count; a clean doc reports 0 hits."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    docs = spark.createDataFrame(
        [
            # contains "quick brown fox jumps over" and 2 more bench 5-grams
            (1, "a quick brown fox jumps over the lazy cat"),
            (2, "completely unrelated words with no overlap at all"),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in ngram_contamination(docs, bench).collect()}
    assert rows[1].n_shingles == 5
    # doc1 5-grams: positions 2..5 of bench text match exactly
    assert rows[1].n_hits == 3
    assert rows[2].n_hits == 0


def test_domain_stats_totals(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = domain_stats(docs)
    total = out.agg(F.sum("n_docs")).collect()[0][0]
    assert total == docs.count()
    r = out.collect()[0]
    assert abs(r.avg_chars * r.n_docs - r.total_chars) < 1e-6 * r.total_chars


def test_kmeans_cells_partition_corpus(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=8, iters=1)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)
    assigned = assign_cells(emb, cents)
    assert assigned.count() == emb.count()  # every vector lands in a cell
    assert assigned.filter(~F.col("cell").between(0, 7)).count() == 0
    # determinism: same fit twice
    assert cents == kmeans_centroids(emb, k=8, iters=1)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF top-1 with nprobe=4/16 cells should usually agree with brute
    force; ≥60% top-1 recall on 10 queries (chance rate ~2%)."""
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
        for r in ivf_topk(emb, q, k=1, n_cells=16, nprobe=4)
        .filter("rank = 1")
        .collect()
    }
    hits = sum(1 for k in exact if approx.get(k) == exact[k])
    assert hits >= 6, f"IVF top-1 recall too low: {hits}/10"


def test_chunk_tokens_windows_and_overlap(spark):
    from faust_spark.operators.text import chunk_tokens

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_tokens(docs, size=3, stride=2).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 7 tokens -> starts 1,3,5,7; window sizes 3,3,3,1
    d1 = sorted(by_doc[1], key=lambda r: r.start)
    assert [r.start for r in d1] == [1, 3, 5, 7]
    assert [r.n_tokens for r in d1] == [3, 3, 3, 1]
    # overlap: consecutive windows share size-stride tokens by construction
    # single-token doc -> one chunk of one token
    assert [(r.start, r.n_tokens) for r in by_doc[2]] == [(1, 1)]
    # empty doc: split('') yields one empty token; one 1-token chunk, no
    # sequence(1,0) count-down blowup
    assert len(by_doc.get(3, [])) == 1


def test_boilerplate_chunks_counts_shared_windows(spark):
    """Docs sharing an exact 3-token window are flagged; unique windows
    are not. Doc layout: 1 and 2 share 'x y z'; 3 is disjoint."""
    from faust_spark.operators.text import boilerplate_chunks

    docs = spark.createDataFrame(
        [
            (1, "x y z a b c"),
            (2, "x y z d e f"),
            (3, "g h i j k l"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_shared)
        for r in boilerplate_chunks(docs, size=3).collect()
    }
    assert got == {1: (2, 1), 2: (2, 1), 3: (2, 0)}


def test_pii_scan_detects_and_redacts(spark):
    from faust_spark.operators.text import pii_scan

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org today"),
            (2, "call 555-123-4567 or 555-987-6543"),
            (3, "server at 10.0.0.1 and 192.168.255.3"),
            (4, "nothing sensitive here"),
            (5, "combo a@b.io 555-000-1111 127.0.0.1"),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in pii_scan(df).collect()}
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ipv4) == (1, 0, 0)
    assert rows[1].text_redacted == "mail me at [EMAIL] today"
    assert rows[2].n_phone == 2
    assert rows[2].text_redacted == "call [PHONE] or [PHONE]"
    assert rows[3].n_ipv4 == 2
    assert rows[3].text_redacted == "server at [IP] and [IP]"
    assert (rows[4].n_email, rows[4].n_phone, rows[4].n_ipv4) == (0, 0, 0)
    assert rows[4].text_redacted == "nothing sensitive here"
    assert rows[5].text_redacted == "combo [EMAIL] [PHONE] [IP]"


def test_unigram_logprob_orders_rare_docs_higher(spark):
    import math

    from faust_spark.operators.text import unigram_logprob

    # "common" appears 6x, "rare" once over 8 tokens total
    df = spark.createDataFrame(
        [
            (1, "common common common"),
            (2, "common common common rare"),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in unigram_logprob(df).collect()}
    assert rows[1].n_tokens == 3 and rows[2].n_tokens == 4
    # doc 2 contains the rare token -> strictly higher mean NLL
    assert rows[2].avg_nll > rows[1].avg_nll
    # corpus totals: 7 tokens, "common" 6 of them
    p_common = 6.0 / 7.0
    assert abs(rows[1].avg_nll - round(-math.log(p_common), 9)) < 1e-9


def test_gopher_rules_flags(spark):
    from faust_spark.operators.text import gopher_rules

    long_good = " ".join(["the", "quick", "brown", "fox"] * 15)  # 60 words
    short = "too short"
    symbols = " ".join(["the"] * 50 + ["#"] * 10)
    df = spark.createDataFrame(
        [(1, long_good), (2, short), (3, symbols)],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert rows[1].keep and rows[1].ok_word_count and rows[1].ok_stopwords
    assert not rows[2].keep and not rows[2].ok_word_count
    assert not rows[3].ok_symbol_ratio and not rows[3].keep


def test_assign_cells_two_level_routes_through_blocks(spark):
    from faust_spark.operators.similarity import (
        assign_cells,
        assign_cells_two_level,
    )

    # 4 centroids on the axes of R^2 -> centroid_blocks clusters them
    # into 2 coherent blocks ({c0,c3} and {c1,c2} under lowest-index
    # init); with top_blocks=2 every vector routes through both and the
    # within-block argmins recover the flat assignment exactly here.
    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0], [0.0, -1.0]]
    df = spark.createDataFrame(
        [
            (1, [0.9, 0.1]),    # clearly c0 (block 0)
            (2, [0.1, 0.9]),    # c1 — same block, within-block argmin
            (3, [-0.9, -0.1]),  # c2 (block 1 rep itself)
            (4, [-0.1, -0.9]),  # c3 via block-1 routing
        ],
        "vec_id int, embedding array<float>",
    )
    got = {r.vec_id: r.cell for r in assign_cells_two_level(df, cents).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    # one-block degenerate case falls back to the flat argmin exactly
    two = cents[:2]
    flat = {r.vec_id: r.cell for r in assign_cells(df, two).collect()}
    tl = {r.vec_id: r.cell for r in assign_cells_two_level(df, two).collect()}
    assert flat == tl


# ---------------------------------------------------------------------
# winnow_fingerprint (MOSS winnowing, SIGMOD 2003)
# ---------------------------------------------------------------------


def test_winnow_fingerprint_basics(spark):
    from faust_spark.operators.text import winnow_fingerprint

    df = spark.createDataFrame(
        [
            (1, "hello world hello world"),
            (2, "hello world hello world"),  # identical -> same sig
            (3, "totally different content"),
            (4, "ab"),  # below k+w-1 -> no fingerprints
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in winnow_fingerprint(df, k=4, w=3).collect()}
    assert out[1].n_fp > 0
    assert out[1].fp_sig == out[2].fp_sig  # set equality via signature
    assert out[1].fp_sig != out[3].fp_sig
    assert out[4].n_fp == 0 and out[4].fp_sig is None


def test_winnow_shared_substring_guarantee(spark):
    """Any shared substring of length >= k+w-1 must contribute at least
    one common selected fingerprint (the winnowing theorem)."""
    from faust_spark.operators.text import winnow_fingerprint

    shared = "the quick brown fox jumps over the lazy dog"
    df = spark.createDataFrame(
        [
            (1, "PREFIXAA " + shared + " SUFFIXBB"),
            (2, "zz" + shared + "qq unrelated tail words here"),
        ],
        "doc_id int, text string",
    )
    # recompute the selected sets via the documented internals: run the
    # operator per-doc and compare signatures of the shared-substring-only
    # docs -- instead assert via intersection: run on each doc alone and
    # on the pair; the pair signature differing from both singles is fine,
    # so check the guarantee directly with a one-doc-per-side join.
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    k, w = 8, 4
    grams = FF.expr(
        f"transform(sequence(1, length(text) - {k} + 1),"
        f" p -> md5(substring(text, p, {k})))"
    )
    g = df.select("doc_id", FF.posexplode(grams))
    ng = df.select(
        "doc_id", (FF.length("text") - FF.lit(k) + 1).alias("ng")
    )
    win = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    sel = (
        g.withColumn("mh", FF.min("col").over(win))
        .join(ng, "doc_id")
        .filter(FF.col("pos") <= FF.col("ng") - w)
        .select("doc_id", "mh")
        .distinct()
    )
    sets = {
        r.doc_id: set(r.fps)
        for r in sel.groupBy("doc_id")
        .agg(FF.collect_set("mh").alias("fps"))
        .collect()
    }
    assert sets[1] & sets[2], "winnowing guarantee violated"


# ---------------------------------------------------------------------
# perplexity_buckets (CCNet head/middle/tail)
# ---------------------------------------------------------------------


def test_perplexity_buckets_known_tiers(spark):
    from faust_spark.operators.text import perplexity_buckets

    # freqs: a=3 b=2 c=1 over 6 tokens -> NLL(a) < NLL(b) < NLL(c)
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "c")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in perplexity_buckets(df, n_buckets=3).collect()}
    assert [out[i].tier for i in (1, 2, 3)] == ["head"] * 3
    assert out[4].tier == "middle" and out[5].tier == "middle"
    assert out[6].tier == "tail"
    assert out[1].bucket == 0 and out[6].bucket == 2
    # scores ordered as constructed
    assert out[1].avg_nll < out[4].avg_nll < out[6].avg_nll


def test_perplexity_buckets_equal_population(spark, sf_dir):
    """On the fixture corpus the three tiers are within one doc-count of
    each other whenever scores are distinct (ties merge buckets)."""
    from faust_spark.operators.text import perplexity_buckets

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = perplexity_buckets(docs, n_buckets=3)
    counts = {
        r.tier: r.n
        for r in out.groupBy("tier").agg(F.count("*").alias("n")).collect()
    }
    total = sum(counts.values())
    assert total == docs.count()
    assert set(counts) == {"head", "middle", "tail"}
    assert max(counts.values()) - min(counts.values()) <= 2


def test_perplexity_buckets_label_contract_any_n(spark):
    """bucket n-1 is ALWAYS labeled 'tail' (ADVICE r4): n=2 must yield
    head/tail, n=4 head/middle/tier2/tail."""
    from faust_spark.operators.text import perplexity_buckets

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "c")],
        "doc_id int, text string",
    )
    out2 = {r.doc_id: r.tier for r in perplexity_buckets(df, n_buckets=2).collect()}
    assert out2[1] == "head" and out2[6] == "tail"
    assert set(out2.values()) <= {"head", "tail"}
    # distinct scores: a-docs, b-docs, c-doc → 3 tiers over 4 buckets
    out4 = {r.doc_id: r.tier for r in perplexity_buckets(df, n_buckets=4).collect()}
    assert out4[1] == "head" and out4[6] == "tail"
    assert "middle" not in ("",)  # label vocabulary sanity below
    assert set(out4.values()) <= {"head", "middle", "tier2", "tail"}


def test_dsir_n_buckets_parameter_drives_bucketing(spark):
    """ADVICE r4: n_buckets must actually change the feature space (it
    was silently fixed at 256) while keeping smoothing consistent."""
    from faust_spark.operators.text import dsir_logratio

    rows = [(i, "alpha beta gamma", i < 5) for i in range(10)]
    rows += [(i, "xx yy zz", False) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "doc_id int, text string, is_target boolean")
    # runs (no crash) and still separates target-like docs at small and
    # large bucket counts; scores differ across spaces
    s16 = {r.doc_id: r.dsir_logratio for r in dsir_logratio(df, n_buckets=16).collect()}
    s4096 = {r.doc_id: r.dsir_logratio for r in dsir_logratio(df, n_buckets=4096).collect()}
    assert s16[0] > s16[10] and s4096[0] > s4096[10]
    assert s16 != s4096


def test_bigram_logprob_known_values(spark):
    import math

    from faust_spark.operators.text import bigram_logprob

    # corpus: "a b" x2, "b a", "b c", "d" (no bigrams)
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "b a"), (4, "b c"), (5, "d")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    # bigrams: (a,b)x2 (b,a)x1 (b,c)x1; ctx a=2 b=2; uni a=3 b=4 c=1 d=1 T=9
    p_ab = 0.7 * (2 / 2) + 0.3 * (4 / 9)
    p_ba = 0.7 * (1 / 2) + 0.3 * (3 / 9)
    assert out[1].n_bigrams == 1
    assert abs(out[1].avg_nll - round(-math.log(p_ab), 9)) < 1e-9
    assert abs(out[3].avg_nll - round(-math.log(p_ba), 9)) < 1e-9
    assert out[5].n_bigrams == 0 and out[5].avg_nll is None
    # the common transition scores better than the rare one
    assert out[3].avg_nll > out[1].avg_nll


def test_dsir_logratio_prefers_target_like_docs(spark):
    from faust_spark.operators.text import dsir_logratio

    # target distribution: "alpha beta" language; off-target: "x y z"
    rows = []
    for i in range(10):
        rows.append((i, "alpha beta alpha beta gamma", True))
    for i in range(10, 20):
        rows.append((i, "xx yy zz xx yy", False))
    # two unlabeled probes: one target-like, one off-target-like
    rows.append((100, "alpha beta gamma", False))
    rows.append((101, "xx yy zz", False))
    df = spark.createDataFrame(rows, "doc_id int, text string, is_target boolean")
    out = {r.doc_id: r for r in dsir_logratio(df).collect()}
    assert len(out) == 22
    assert out[100].dsir_logratio > out[101].dsir_logratio
    # scores are deterministic across recomputation
    out2 = {r.doc_id: r.dsir_logratio for r in dsir_logratio(df).collect()}
    assert {k: v.dsir_logratio for k, v in out.items()} == out2
    # feature count = unigrams + bigrams
    assert out[100].n_feats == 3 + 2


def test_kn_bigram_logprob_known_values(spark):
    import math

    from faust_spark.operators.text import kn_bigram_logprob

    # corpus: "a b" x2, "b a", "b c", "d" (no bigrams)
    # bg types: (a,b) cvw=2, (b,a) 1, (b,c) 1; T_types=3
    # ctx: a cv=2 n1f=1; b cv=2 n1f=2
    # cont: b n1b=1, a n1b=1, c n1b=1
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "b a"), (4, "b c"), (5, "d")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in kn_bigram_logprob(df).collect()}
    d = 0.75
    p_ab = max(2 - d, 0) / 2 + d * 1 / 2 * 1 / 3
    p_ba = max(1 - d, 0) / 2 + d * 2 / 2 * 1 / 3
    assert out[1].n_bigrams == 1
    assert abs(out[1].avg_nll - round(-math.log(p_ab), 9)) < 1e-9
    assert abs(out[3].avg_nll - round(-math.log(p_ba), 9)) < 1e-9
    assert out[5].n_bigrams == 0 and out[5].avg_nll is None


def test_kn_continuation_beats_raw_frequency(spark):
    """The Kneser-Ney correction: 'francisco' is frequent but occurs in
    ONE context, so its continuation probability — and with it the
    smoothed score of an unseen-ish transition — is low, where raw
    unigram backoff (JM) overweights it. Compare two equal-count words:
    one glued to a single context, one appearing after many contexts."""
    from faust_spark.operators.text import kn_bigram_logprob

    rows = [(i, "san francisco") for i in range(6)]
    # 'the' appears 6 times total, after 6 different contexts
    ctxs = ["red", "blue", "green", "old", "new", "big"]
    rows += [(10 + i, f"{c} the") for i, c in enumerate(ctxs)]
    # probes: a single transition into each target word from a context
    # with two continuations (so the discount mass is equal)
    rows += [(100, "probe francisco"), (101, "probe the")]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r.avg_nll for r in kn_bigram_logprob(df).collect()}
    # same cvw/cv and n1f for both probe bigrams; only the continuation
    # count differs: n1b(francisco)=2 (san, probe) vs n1b(the)=7
    assert out[100] > out[101]


@pytest.mark.slow
def test_expr_operators_quote_column_names(spark):
    """A text column named like a keyword (or containing a space) is a
    column reference, never SQL: winnow_fingerprint interpolates it into
    F.expr text and must backtick-quote it (ADVICE r7); the bigram LMs
    and dsir_logratio build Column expressions and must give the same
    results under such a name."""
    from faust_spark.operators.text import (
        bigram_logprob,
        dsir_logratio,
        kn_bigram_logprob,
        winnow_fingerprint,
    )

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "c c c c")],
        "doc_id long, `text col` string",
    )
    plain = spark.createDataFrame(
        [(1, "a b a b c"), (2, "c c c c")],
        "doc_id long, text string",
    )
    for fn in (bigram_logprob, kn_bigram_logprob):
        got = {
            r.doc_id: r.avg_nll
            for r in fn(df, text_col="text col").collect()
        }
        want = {r.doc_id: r.avg_nll for r in fn(plain).collect()}
        assert got == want, fn.__name__
    wf = {
        r.doc_id: (r.n_fp, r.fp_sig)
        for r in winnow_fingerprint(df, text_col="text col").collect()
    }
    wp = {
        r.doc_id: (r.n_fp, r.fp_sig)
        for r in winnow_fingerprint(plain).collect()
    }
    assert wf == wp
    tgt = df.withColumn("is_tgt", F.col("doc_id") == 1)
    tgt_plain = plain.withColumn("is_tgt", F.col("doc_id") == 1)
    ds = {
        r.doc_id: r.dsir_logratio
        for r in dsir_logratio(
            tgt, target_col="is_tgt", text_col="text col"
        ).collect()
    }
    dp = {
        r.doc_id: r.dsir_logratio
        for r in dsir_logratio(tgt_plain, target_col="is_tgt").collect()
    }
    assert ds == dp
