"""BPE tokenizer TRAINING over a distributed corpus.

Byte-pair-encoding merge learning (Sennrich, Haddow & Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units") is the
tokenizer-fit step every LLM data pipeline runs before tokenizing: count
words once, then iteratively merge the most frequent adjacent symbol
pair.  The classical algorithm is exactly Spark-shaped:

- **one corpus pass** builds the word-frequency dictionary (term-keyed
  partial agg — the only corpus-sized step; the dictionary is
  Zipf-bounded, i.e. model-scale even at 100 TB of text);
- **each merge iteration** runs over the dictionary only: adjacent-pair
  counts (posexplode + pair-keyed partial agg, overlap-counted exactly
  as the reference implementation's ``get_stats``), a deterministic
  argmax (freq DESC, pair lexicographic), and a greedy left-to-right
  non-overlapping merge application.

The merge application is the subtle part: "merge left-to-right without
overlap" is sequential on paper, but overlapping matches can only chain
when left == right (a run like ``a a a a``), and within such a run the
kept positions are exactly the even offsets.  So the greedy pass is
expressible as pure window logic — match flags, gaps-and-islands ids,
parity — identical integer arithmetic in Spark and in a SQL oracle.  No
floats anywhere: the whole merge trajectory is bit-portable with no
rounding guard at all, making this the most exactly-verifiable iterative
operator in the repo.

Words are lowercased and restricted to ``^[a-z]+$`` (the usual
pre-normalization; also sidesteps engine differences in non-ASCII char
indexing), and each word carries a ``</w>`` end-of-word marker symbol as
in the reference algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from faust_spark.operators.mat import materialize

END = "</w>"

#: largest dictionary (distinct words) :func:`bpe_fit` merges driver-side;
#: bigger ones take the distributed loop
_DRIVER_DICT_MAX = 200_000

__all__ = ["word_counts", "bpe_learn", "bpe_fit", "bpe_segment", "END"]


def word_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, cnt) dictionary: lowercase ``^[a-z]+$`` words only.

    The ONE corpus-sized step of BPE training — everything after runs
    on this Zipf-bounded relation.
    """
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias(
                "word"
            )
        )
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _spelled(words: DataFrame) -> DataFrame:
    """(word, cnt, syms): each word as its characters plus ``END`` — the
    state before the first merge — behind a lazy lineage cut."""
    return materialize(
        words.select(
            "word",
            "cnt",
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit(END))
            ).alias("syms"),
        ),
    )


def _merge_pair(sym: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one merge (a, b) -> ab to every symbol sequence, greedy
    left-to-right non-overlapping, via islands-parity window logic."""
    wo = W.partitionBy("word").orderBy("i")
    e = (
        sym.select(
            "word", "cnt", F.posexplode("syms").alias("i", "s")
        )
        .withColumn("nxt", F.lead("s").over(wo))
        .withColumn(
            "mt",
            F.coalesce(
                (F.col("s") == F.lit(a)) & (F.col("nxt") == F.lit(b)),
                F.lit(False),
            ),
        )
        .withColumn(
            "mrn",
            F.sum(F.when(F.col("mt"), 1).otherwise(0)).over(wo),
        )
        .withColumn(
            "isl", F.when(F.col("mt"), F.col("i") - F.col("mrn"))
        )
    )
    wi = W.partitionBy("word", "isl")
    e = (
        e.withColumn(
            "kept",
            F.col("mt")
            & (((F.col("i") - F.min("i").over(wi)) % 2) == 0),
        )
        .withColumn(
            "pk", F.coalesce(F.lag("kept").over(wo), F.lit(False))
        )
        .withColumn(
            "o",
            F.when(
                F.col("kept"), F.concat(F.col("s"), F.col("nxt"))
            ).when(~F.col("pk"), F.col("s")),
        )
        .filter(F.col("o").isNotNull())
    )
    return e.groupBy("word", "cnt").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("i"), F.col("o")))
            ),
            lambda s: s["o"],
        ).alias("syms")
    )


def bpe_learn(
    words: DataFrame, n_merges: int = 10
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from a (word, cnt) dictionary;
    returns [(left, right, freq), ...] in learned order — the tokenizer
    model (driver-side by design, like centroids and GD weights).

    Pair counts include overlaps (``get_stats`` semantics); the argmax
    tie-breaks (freq DESC, left ASC, right ASC); application is greedy
    left-to-right.  All-integer arithmetic — the trajectory is exactly
    reproducible by a SQL oracle with zero tolerance.
    """
    return bpe_fit(words, n_merges)[0]


def _bpe_fit_driver(
    dic_rows: list[tuple[str, int]], n_merges: int
) -> tuple[list[tuple[str, str, int]], list[tuple[str, int, list[str]]]]:
    """Pure-Python :func:`bpe_fit` over a collected dictionary — the
    SAME integer semantics as the distributed loop (overlap-counted
    adjacent-pair stats, argmax tie-broken (freq DESC, left ASC, right
    ASC) — Python string comparison equals Spark's UTF8 binary order on
    these ASCII symbols — and greedy left-to-right non-overlapping
    application), so the two paths are interchangeable bit-for-bit
    (pinned by test_bpe_driver_path_matches_distributed). Used when the
    dictionary fits on the driver; n_merges iterations of Spark jobs
    over a model-sized relation are pure scheduler overhead."""
    dic = [(w, int(c), list(w) + [END]) for w, c in dic_rows]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        stats: dict[tuple[str, str], int] = {}
        for _w, c, syms in dic:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + c
        if not stats:
            break
        (a, b), f = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, int(f)))
        ab = a + b
        for idx, (w, c, syms) in enumerate(dic):
            if a not in syms:
                continue
            out: list[str] = []
            i, n = 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            dic[idx] = (w, c, out)
    return merges, dic


def bpe_fit(
    words: DataFrame,
    n_merges: int = 10,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """:func:`bpe_learn` that also returns the final segmented
    dictionary (word, cnt, syms) — the tokenizer APPLY artifact: at
    corpus scale, tokenization is split-to-words + a broadcast join
    against this model-sized relation (the corpus text itself is never
    re-segmented row by row).

    Dictionaries with at most ``_DRIVER_DICT_MAX`` distinct words run
    the merge loop driver-side (:func:`_bpe_fit_driver`) — the same
    model-sized-state discipline as connected_components' union-find
    guard: the corpus pass that BUILT the dictionary stays distributed,
    and ~3 Spark jobs per merge over a relation that fits in one pandas
    frame buy nothing but scheduler overhead. Bigger dictionaries (a
    100 TB corpus under Heaps' law can exceed any driver bound) take
    the distributed loop below — identical trajectory, property-pinned."""
    # ONE action decides the branch AND fetches the dictionary: pull
    # at most _DRIVER_DICT_MAX+1 rows — the corpus-sized aggregation
    # that built `words` runs once, never count()-then-toPandas()
    pdf = (
        words.select("word", "cnt")
        .limit(_DRIVER_DICT_MAX + 1)
        .toPandas()
    )
    if len(pdf) <= _DRIVER_DICT_MAX:
        merges, dic = _bpe_fit_driver(
            list(zip(pdf["word"], pdf["cnt"])), n_merges
        )
        import pandas as pd

        out = pd.DataFrame(
            {
                "word": [w for w, _, _ in dic],
                "cnt": [c for _, c, _ in dic],
                "syms": [s for _, _, s in dic],
            }
        )
        # eager materialize for parity with the distributed branch:
        # callers re-traversing the returned relation must not
        # re-plan the (Arrow-local but per-action) pandas scan
        sym = materialize(
            words.sparkSession.createDataFrame(
                out, "word string, cnt long, syms array<string>"
            ),
            eager=True,
        )
        return merges, sym
    # lazy: round 1's pair-count collect is the first action and
    # materializes the blocks (r14, guide §1.2)
    sym = _spelled(words)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        # sequence(0, size-1) is always ascending (size >= 1); the
        # trailing (last, null) pair is filtered out — F.sequence(0,
        # size-2) would DESCEND to [0, -1] for a fully-merged
        # single-symbol word and crash on syms[1]
        pairs = (
            sym.select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(
                            F.lit(0), F.size("syms") - F.lit(1)
                        ),
                        lambda i: F.struct(
                            F.get(F.col("syms"), i).alias("a"),
                            F.get(F.col("syms"), i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .filter(F.col("p.b").isNotNull())
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("f"))
        )
        top = (
            pairs.orderBy(
                F.desc("f"), F.col("a"), F.col("b")
            )
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, f = top[0]["a"], top[0]["b"], int(top[0]["f"])
        merges.append((a, b, f))
        # lazy: the NEXT round's pair-count collect (or the caller's
        # first traversal after the last round) materializes it — one
        # action per merge round instead of two (r14, guide §1.2)
        sym = materialize(_merge_pair(sym, a, b))
    return merges, sym


def bpe_segment(
    words: DataFrame, merges: list[tuple[str, str, int]]
) -> DataFrame:
    """Apply an already-learned merge list to a (word, cnt) dictionary
    in learned order; returns (word, cnt, syms) — the same greedy
    left-to-right semantics as training, re-runnable on any later
    corpus snapshot with a frozen tokenizer."""
    # lazy chain: each checkpoint still cuts lineage at plan time; the
    # caller's first action materializes the cascade once, instead of
    # len(merges)+1 separate driver-blocking jobs here (r14, §1.2)
    sym = _spelled(words)
    for a, b, *_ in merges:
        sym = materialize(_merge_pair(sym, a, b))
    return sym
