"""Keyword search (BM25) over document tables.

The retrieval step of a training-data pipeline: targeted corpus probes
("find documents about X"), quality-list mining, and the candidate
generator for hard-negative mining.  Everything is JVM-side column
expressions — no UDF — so scoring stays inside whole-stage codegen.

Scale design: a query's term set is tiny, so term matching is a map-side
``isin`` filter on the exploded token stream — the corpus is scanned
ONCE and never joined against itself.  Document frequencies come from
the matched postings themselves (one partial-agg shuffle keyed by term,
broadcast back), and the corpus-wide (N, avgdl) statistics are a one-row
broadcast.  Global top-k is ``orderBy().limit(k)`` — Spark plans
TakeOrderedAndProject (per-partition heaps, no global sort).

For repeated querying at 100 TB you materialize :func:`postings` once,
bucketed by term (``storage.write_bucketed``): each query then reads
only its terms' buckets instead of re-scanning the corpus.

Score determinism: BM25 uses ln() — engines can differ in the last ulp,
so scores are returned for inspection but cross-engine verification
should compare (doc, rank) with the deterministic (score DESC, doc_id)
tie-break, the same contract as ``similarity.cosine_topk``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from faust_spark.operators.mat import materialize


def postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(term, doc, tf) postings — the inverted-index relation.

    Written bucketed by ``term`` this is a distributed inverted index:
    a query's lookup reads only the buckets its terms hash into.
    """
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    return toks.groupBy("term", id_col).agg(F.count(F.lit(1)).alias("tf"))


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 top-k documents for a bag-of-words query.

    Returns (id, n_terms, score, rank): matched-term count, BM25 score,
    and the global rank under (score DESC, id).  One corpus scan; the
    only shuffles are the (doc, term) tf aggregation and the final top-k.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.explode(F.filter(toks, lambda w: w.isin(*terms))).alias("term"),
    )
    # r13 (guide §2.4): tf feeds both the score join and the df
    # aggregate — two differently-keyed consumers, so without a
    # checkpoint the corpus tokenize-filter-explode plans (and runs)
    # twice. The matched-postings relation is query-bounded (only docs
    # containing a query term survive the map-side filter), so the
    # checkpoint is small however large the corpus.
    tf = materialize(
        base.groupBy(id_col, "dl", "term").agg(
            F.count(F.lit(1)).alias("tf")
        )
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus stats: avgdl as exact-integer token sum / count (deterministic)
    stats = docs.select(F.size(toks).alias("dl")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(idf * tf_part).alias("score"),
        )
    )
    top = scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)
    w = W.orderBy(F.desc("score"), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "n_terms", "score", "rank"
    )


def bm25_multi_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    qid_col: str = "qid",
    exclude_self: bool = False,
) -> DataFrame:
    """Per-query BM25 top-k for a TABLE of bag-of-words queries — the
    batch-retrieval shape (every query rides one pass over the corpus
    postings instead of one scan per query).

    ``queries`` is (qid, text); each query's term set is its distinct
    tokens.  Postings (term, doc, tf) and per-doc lengths come from one
    corpus scan; the query terms are broadcast and hash-joined against
    the postings on ``term`` (at 100 TB the postings relation is written
    bucketed by term and the join prunes to the query terms' buckets —
    never a scan per query).  Document frequencies are corpus-global per
    term, identical to :func:`bm25_topk`'s.  Rank is per-qid
    (score DESC, id).  ``exclude_self`` drops doc == qid rows (queries
    drawn from the corpus itself, e.g. related-document search).

    Returns (qid, id, n_terms, score, rank) with rank <= k.
    """
    toks = F.split(F.col(text_col), " ")
    qterms = queries.select(
        F.col(qid_col).alias("qid"),
        F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias(
            "term"
        ),
    )
    # r13 (guide §2.4): ONE corpus pass builds the postings, and both
    # corpus statistics derive from them instead of re-scanning text.
    # Before, tf / dfs / stats each replanned a full read of the text
    # column (the heavy bytes at 100 TB): dfs re-ran the tokenize +
    # explode, stats re-read every document to size it. The postings
    # relation is the inverted index the module docstring says to
    # materialize anyway; df comes off it keyed by term, and (n, avgdl)
    # from the distinct (doc, dl) pairs it already carries — every doc
    # appears (split("") yields one empty token), so the doc count and
    # the exact-integer dl sum are unchanged.
    tf = materialize(
        docs.select(
            F.col(id_col),
            F.size(toks).alias("dl"),
            F.explode(toks).alias("term"),
        )
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfs = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        tf.groupBy(id_col)
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    matched = tf.join(F.broadcast(qterms), "term")
    if exclude_self:
        matched = matched.filter(F.col(id_col) != F.col("qid"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        matched.join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("qid", id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum(idf * tf_part).alias("score"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "n_terms", "score", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    k_rrf: int = 60,
    qid_col: str = "qid",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of ranked candidate lists (Cormack et al.):
    fused score = Σ_lists 1/(k_rrf + rank), absent-from-list contributes
    nothing.

    Rank-based fusion needs no score calibration between modalities
    (BM25 scores and cosine similarities live on different scales), which
    is why it is the standard sparse+dense hybrid-retrieval combiner.
    Each input is (qid, id, rank); the union is one partial-agg shuffle
    on (qid, id) — candidate lists are per-query top-k, so the shuffle
    volume is |queries| · k · n_lists however large the corpus.  With
    two lists the fused double is order-independent (IEEE addition is
    commutative), so the cross-engine oracle compares exactly.

    Returns (qid, id, fused_rank) with fused_rank <= k under
    (score DESC, id).
    """
    u = None
    for r in rankings:
        c = r.select(
            F.col(qid_col).alias("qid"),
            F.col(id_col).alias("__id"),
            (
                F.lit(1.0)
                / (F.lit(float(k_rrf)) + F.col(rank_col).cast("double"))
            ).alias("c"),
        )
        u = c if u is None else u.unionByName(c)
    fused = u.groupBy("qid", "__id").agg(F.sum("c").alias("s"))
    w = W.partitionBy("qid").orderBy(F.desc("s"), F.col("__id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= k)
        .select("qid", F.col("__id").alias(id_col), "fused_rank")
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    qid_col: str = "qid",
    id_col: str = "nid",
    score_col: str = "score",
    vec_col: str = "embedding",
    round_dp: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): per query, greedily select ``k`` results maximizing

        lam * relevance(d)  -  (1 - lam) * max_{s in selected} cos(d, s)

    — the standard diversification pass after dense retrieval, so the
    final k aren't five paraphrases of the same document.

    Scale shape: the greedy loop is inherently sequential *per query*
    but the candidate set is retrieval-bounded (tens of rows), so each
    query's loop runs inside one Arrow table (``applyInArrow`` grouped
    by query id) over numpy — no candidate ever re-shuffles, and queries
    parallelize across tasks exactly like the retrieval that produced
    them. The quadratic term is k·|candidates| per query, constant-sized
    by construction.

    ``candidates``: (qid, nid, score, embedding) — e.g. the output of a
    dense top-n (n > k) joined back to its vectors. Returns
    (qid, nid, mmr_rank 1..k, mmr_score). A query's vectors are read at
    the length most of its candidates share (the longer on a tie); a
    NULL or other-length candidate is never picked.

    ``round_dp``: engine-portable selection mode — each step's argmax
    runs over the MMR score ROUNDED to ``round_dp`` decimals with ties
    broken on ascending ``id_col`` (ids must be orderable). Last-ulp
    float-sum differences between engines then cannot flip a pick unless
    two candidates' true scores land within ~1e-``round_dp`` of each
    other AND straddle a rounding boundary — which is what lets the gate
    verify the whole greedy chain against a DuckDB oracle that unrolls
    the k selection steps in SQL with the same rounding rule. Default
    ``None`` keeps raw-float argmax (first-max-wins on the
    relevance-sorted frame).
    """
    import pyarrow as pa

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    from faust_spark.operators.similarity import _vector_dims, _vectors

    qt = candidates.schema[qid_col].dataType
    nt = candidates.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(qid_col, qt, True),
            StructField(id_col, nt, True),
            StructField("mmr_rank", IntegerType(), True),
            StructField("mmr_score", DoubleType(), True),
        ]
    )

    def pick(tbl: pa.Table) -> pa.Table:
        import numpy as np

        score = tbl.column(score_col).to_numpy()
        tbl = tbl.take(np.argsort(-score, kind="stable"))
        vecs = tbl.column(vec_col)
        rows, V = max(
            [_vectors(vecs, d) for d in _vector_dims(vecs)],
            key=lambda rv: (len(rv[0]), rv[1].shape[1]),
            default=(np.zeros(0, dtype=np.int64), np.zeros((0, 0))),
        )
        tbl = tbl.take(rows)  # the well-formed candidates, in score order
        V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        rel = tbl.column(score_col).to_numpy().astype(np.float64)
        nids = tbl.column(id_col).to_numpy()
        n = tbl.num_rows
        chosen: list[int] = []
        scores: list[float] = []
        max_sim = np.full(n, -np.inf)
        for _ in range(min(k, n)):
            mmr = lam * rel - (1.0 - lam) * np.where(
                np.isfinite(max_sim), max_sim, 0.0
            )
            mmr[chosen] = -np.inf
            if round_dp is None:
                i = int(np.argmax(mmr))
            else:
                # HALF-AWAY-FROM-ZERO like F.round / DuckDB ROUND —
                # np.round is banker's (half-to-even), so a tie at the
                # round_dp boundary would pick a different argmax than
                # the oracle and derail the whole greedy chain
                scale = 10.0**round_dp
                key = (
                    np.sign(mmr)
                    * np.floor(np.abs(mmr) * scale + 0.5)
                    / scale
                )
                key[chosen] = -np.inf
                # argmax under (rounded score DESC, id ASC): lexsort is
                # last-key-primary, -key ascending == score descending
                i = int(np.lexsort((nids, -key))[0])
            chosen.append(i)
            scores.append(float(mmr[i]))
            max_sim = np.maximum(max_sim, V @ V[i])
        picked = np.asarray(chosen, dtype=np.int64)
        return tbl.select([qid_col, id_col]).take(picked).append_column(
            "mmr_rank", [np.arange(1, len(chosen) + 1, dtype=np.int32)]
        ).append_column("mmr_score", [np.array(scores, dtype=np.float64)])

    return candidates.groupBy(qid_col).applyInArrow(pick, out_schema)


__all__ = [
    "postings",
    "bm25_topk",
    "bm25_multi_topk",
    "rrf_fuse",
    "mmr_rerank",
]
