"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design notes (the point of each implementation):

- **exact_dedup**: hash-groupBy on md5(text) — one shuffle of (hash, id)
  pairs with map-side combine; never moves the text itself.
- **jaccard_pairs**: shingle → self-equi-join on shingle → per-pair
  intersection counts. The join key is the shingle hash, so co-occurrence
  is computed without any pairwise loop; frequency-capped shingles (df
  bound) keep hub shingles from exploding the join at corpus scale.
- **minhash_lsh**: k independent min-hashes from one explode, banded into
  b groups; candidate pairs only where a full band collides — the classic
  sub-quadratic near-dup path for 100 TB corpora. Exact Jaccard verifies
  candidates afterward (cheap: candidates ≪ pairs).
- **simhash**: 32-bit weighted-bit fingerprint; Hamming-adjacent banding
  is left to the caller (fingerprint equality already catches heavy dups).
- All hashes are md5-derived → reproducible in DuckDB for oracles and in
  any other engine for cross-system audits.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from faust_spark.operators.mat import materialize


# --------------------------------------------------------------------------
# exact
# --------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content hash: keeper id (min), group size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def keep_best(
    df: DataFrame,
    quality_col: str = "n_chars",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keeper selection: groups documents by normalized
    content (lowercased, whitespace-collapsed — whitespace/case variants
    of one document collide) and keeps the HIGHEST-quality member, not
    the lowest id. One hash-groupBy; the argmax is a struct-max, so it
    stays in partial aggregation (no window, no second shuffle)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    best = F.max(
        F.struct(F.col(quality_col), (-F.col(id_col)).alias("nid"))
    )
    return (
        df.groupBy(F.md5(norm).alias("content_hash"))
        .agg(
            best.alias("__best"),
            F.count(F.lit(1)).alias("n_in_group"),
        )
        .select(
            "content_hash",
            (-F.col(f"__best.nid")).alias("keeper_id"),
            F.col(f"__best.{quality_col}").alias("keeper_quality"),
            "n_in_group",
        )
    )


# --------------------------------------------------------------------------
# shingling + n-gram Jaccard
# --------------------------------------------------------------------------


def shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Documents shorter than ``n`` words produce no shingles (and therefore
    never enter pair generation) — Spark's ``sequence(1, 0)`` would count
    DOWN, so the short case needs an explicit empty guard. The split is
    projected first: inside the lambda it would re-split the document
    for every shingle (O(len²)).
    """
    words = F.col("__words")
    idx = F.when(
        F.size(words) >= n,
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i, n))
    )
    return (
        df.select(F.col(id_col), F.split(text_col, " ").alias("__words"))
        .select(id_col, F.explode(sh).alias("shingle"))
        .distinct()
    )


def _cap_hubs(
    sh: DataFrame, id_col: str, max_shingle_freq: int | None
) -> DataFrame:
    """The hub-key guard: drop shingles that occur in more than
    ``max_shingle_freq`` docs (``None``: keep all) — a stop-shingle in
    1M docs would otherwise contribute 10^12 self-join rows."""
    if max_shingle_freq is None:
        return sh
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return sh.join(
        freq.filter(F.col("df") <= max_shingle_freq), "shingle"
    ).select(id_col, "shingle")


def _with_sizes(pairs: DataFrame, sizes: DataFrame, id_col: str) -> DataFrame:
    """``pairs`` (doc1, doc2, ...) with both shingle-set sizes n1, n2."""
    s1 = sizes.select(F.col(id_col).alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("doc2"), F.col("n_sh").alias("n2"))
    return pairs.join(s1, "doc1").join(s2, "doc2")


def _shingle_overlap(sh: DataFrame, id_col: str) -> DataFrame:
    """(doc1, doc2, inter, n1, n2) for every doc1 < doc2 sharing a
    shingle: one shingle-keyed self-join counts the co-occurrences."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("doc1"),
            F.col(f"b.{id_col}").alias("doc2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _with_sizes(inter, sizes, id_col)


def _jaccard_at_least(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc1, doc2, jaccard) of the (doc1, doc2, inter, n1, n2) rows
    with Jaccard >= ``threshold``."""
    union = F.col("n1") + F.col("n2") - F.col("inter")
    jac = (F.col("inter").cast("double") / union).alias("jaccard")
    out = pairs.select("doc1", "doc2", jac)
    return out.filter(F.col("jaccard") >= threshold)


def _min_overlap(threshold: float, n1: Column, n2: Column) -> Column:
    """The overlap ``ceil(t/(1+t)·(n1+n2))`` that ``J >= t`` requires of
    sets of sizes n1, n2. The epsilon biases it toward ADMITTING
    borderline pairs: it may only discard provably-failing ones."""
    return F.ceil(F.lit(threshold / (1.0 + threshold)) * (n1 + n2) - 1e-9)


def _verify_sets(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc1, doc2) pairs against
    the per-document (id, set, n_sh) relation: one array intersection
    per candidate. The overlap bound filters first, so the Jaccard
    quotient (two intersections once pushed into the join condition)
    runs only for the few candidates that pass it."""
    s1, s2 = (sets.toDF(f"doc{i}", f"s{i}", f"n{i}") for i in (1, 2))
    pairs = cand.join(s1, "doc1").join(s2, "doc2").withColumn(
        "inter", F.size(F.array_intersect("s1", "s2"))
    )
    bound = _min_overlap(threshold, F.col("n1"), F.col("n2"))
    return _jaccard_at_least(pairs.filter(F.col("inter") >= bound), threshold)


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by n-gram-shingle Jaccard similarity.

    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs before the self-join — the standard hub-key guard: a stop-shingle
    occurring in 1M docs would otherwise contribute 10^12 join rows.
    """
    # the shingle set feeds the freq filter, both join sides, and the size
    # table — materialize once (operators.mat: localCheckpoint by default;
    # set spark.faust_spark.materialize=reliable under dynamic allocation,
    # where non-replicated localCheckpoint blocks are a job-loss risk)
    sh = materialize(shingles(df, n, text_col, id_col))
    sh = _cap_hubs(sh, id_col, max_shingle_freq)
    return _jaccard_at_least(_shingle_overlap(sh, id_col), threshold)


def _canonical_sets(sh: DataFrame, id_col: str) -> DataFrame:
    """(id, set, n_sh): each document's distinct shingles as one string
    array in the canonical PPJoin order (ascending document frequency,
    then the shingle). Strings, not structs: Spark intersects string
    arrays through a hash set, struct arrays pairwise."""
    sdf = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    canon = F.sort_array(F.collect_list(F.struct("sdf", "shingle")))
    return (
        sh.withColumn("sdf", sdf)
        .groupBy(id_col)
        .agg(canon.getField("shingle").alias("set"))
        .withColumn("n_sh", F.size("set"))
    )


def _prefixes(sets: DataFrame, threshold: float, id_col: str) -> DataFrame:
    """(id, shingle, rn, n_sh): the first ``n_sh - ceil(t*n_sh) + 1``
    shingles of each canonical set, ``rn`` their 1-based rank. The
    epsilon biases ceil DOWN: float fuzz may only LENGTHEN a prefix."""
    p = F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh") - 1e-9) + 1
    prefix = F.posexplode(F.slice("set", 1, p)).alias("pos", "shingle")
    return sets.select(id_col, "n_sh", prefix).select(
        id_col, "shingle", (F.col("pos") + 1).alias("rn"), "n_sh"
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT Jaccard near-dup pairs via prefix filtering (PPJoin family,
    Xiao, Wang, Lin, Yu, "Efficient Similarity Joins for Near Duplicate
    Detection", WWW 2008 — prefix + length + positional filters;
    implemented from the published description).

    Returns exactly :func:`jaccard_pairs` with NO ``max_shingle_freq``
    cap — same pairs, same jaccard values — but never joins full
    shingle sets against each other. Under a global canonical order
    (ascending document frequency, shingle string as tie-break), two
    sets with ``J >= t`` MUST share a shingle within their first
    ``|x| - ceil(t*|x|) + 1`` shingles, so only those prefixes feed the
    candidate self-join. This kills the hub-key blowup structurally
    rather than approximately: a stop-shingle has maximal df, sorts
    LAST in every document's order, and enters a prefix only when it is
    among that document's rarest ~(1-t) fraction — so the join's key
    histogram holds the rare tail, not the hubs, and the shuffle volume
    is the prefix fraction of the shingle table. Candidate join rows
    then pass the POSITIONAL filter — sharing a prefix shingle at sorted
    ranks ``i``/``j`` bounds the overlap by ``1 + min(|x|-i, |y|-j)``,
    which must reach the required ``ceil(t/(1+t)·(|x|+|y|))``; exact
    because the globally-minimal shared shingle of any qualifying pair
    lies in BOTH prefixes (anything canonically before it in either doc
    is unshared) and witnesses the bound — plus the length filter
    (``min >= t * max``), and survivors are verified with an exact
    intersection count over the full sets.

    Shuffle budget: one per-document relation ``(id, set, n_sh)``
    (:func:`_canonical_sets`: a shingle-keyed window count and one
    doc-keyed collect), materialized once; the prefix self-join; two
    doc-keyed joins attaching both sets, one array intersection per
    candidate row; a distinct of the verified pairs. Nothing is
    quadratic. Verifying before the distinct keeps the intersections in
    the self-join's tasks (few rows repeat a pair), not in the few
    partitions AQE coalesces the distinct's small output into.
    """
    sets = materialize(
        _canonical_sets(shingles(df, n, text_col, id_col), id_col)
    )
    pref = _prefixes(sets, threshold, id_col)
    a, b = pref.alias("a"), pref.alias("b")
    # both epsilons bias toward ADMITTING borderline rows — verification
    # decides, the filters may only discard provably-failing pairs
    alpha = _min_overlap(threshold, F.col("a.n_sh"), F.col("b.n_sh"))
    cand = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # length filter: J >= t forces t*max(|x|,|y|) <= min(|x|,|y|)
        .filter(
            F.least("a.n_sh", "b.n_sh")
            >= F.lit(threshold) * F.greatest("a.n_sh", "b.n_sh")
            - F.lit(1e-9)
        )
        # positional filter: this shared shingle (sorted rank rn of
        # n_sh) caps the overlap at 1 + min(|x|-i, |y|-j); a qualifying
        # pair always has a witnessing row (its globally-minimal shared
        # shingle, in both prefixes), so dropping non-witnesses loses
        # no pair — it only shrinks the verification input
        .filter(
            F.lit(1)
            + F.least(
                F.col("a.n_sh") - F.col("a.rn"),
                F.col("b.n_sh") - F.col("b.rn"),
            )
            >= alpha
        )
        .select(
            F.col(f"a.{id_col}").alias("doc1"),
            F.col(f"b.{id_col}").alias("doc2"),
        )
    )
    return _verify_sets(cand, sets, threshold).distinct()


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by shingle CONTAINMENT:
    ``C = |A∩B| / min(|A|, |B|)`` — catches the quote/subset structure
    Jaccard misses (a tweet embedded verbatim in a long article has
    Jaccard ≈ 0 but containment 1.0; dedup pipelines drop or link such
    pairs as near-dups of the shorter side).

    Same one-shuffle shingle equi-join shape as :func:`jaccard_pairs`
    (co-occurrence counts, never a pairwise loop), same
    ``max_shingle_freq`` hub guard; only the denominator changes.
    Returns (doc1, doc2, containment), doc1 < doc2.
    """
    sh = materialize(shingles(df, n, text_col, id_col))
    sh = _cap_hubs(sh, id_col, max_shingle_freq)
    return (
        _shingle_overlap(sh, id_col)
        .withColumn(
            "containment",
            F.col("inter").cast("double") / F.least("n1", "n2"),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc1", "doc2", "containment")
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Incremental corpus dedup: keep the NEW rows that are not near-dups
    of any existing-corpus row (n-gram-shingle Jaccard >= threshold).

    The production shape for a daily crawl: join new-batch shingles
    against corpus shingles ONLY — never corpus x corpus (re-deduping a
    100 TB corpus to admit a 100 GB batch would dominate the cost) and
    never new x new (run a self-dedup on the batch separately if
    wanted). Work is O(batch x shingle-overlap); the corpus side only
    contributes shingles that actually collide with the batch, so a
    pre-bucketed/Delta shingle table on the corpus side turns this into
    a pruned lookup at scale. ``max_shingle_freq`` caps hub shingles on
    the corpus side before the join (same guard as
    :func:`jaccard_pairs`).
    """
    sh_new = materialize(shingles(new_df, n, text_col, id_col))
    sh_old = _cap_hubs(
        materialize(shingles(corpus_df, n, text_col, id_col)),
        id_col,
        max_shingle_freq,
    )
    n1, n2 = (
        sh.groupBy(F.col(id_col).alias(f"doc{i}")).agg(
            F.count(F.lit(1)).alias(f"n{i}")
        )
        for i, sh in ((1, sh_new), (2, sh_old))
    )
    inter = (
        sh_new.alias("a")
        .join(sh_old.alias("b"), "shingle")
        .groupBy(
            F.col(f"a.{id_col}").alias("doc1"),
            F.col(f"b.{id_col}").alias("doc2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    pairs = inter.join(n1, "doc1").join(n2, "doc2")
    dup_ids = _jaccard_at_least(pairs, threshold).select("doc1").distinct()
    return new_df.join(dup_ids, new_df[id_col] == dup_ids["doc1"], "left_anti")


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


_MERSENNE_P = (1 << 31) - 1


def minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """md5-derived (a, b) coefficient pairs for the universal hash family
    ``(a*h + b) mod p`` (p = 2^31-1) — deterministic, so both engines
    embed the same literals (same pattern as the LSH hyperplanes)."""
    import hashlib

    a, b = [], []
    for i in range(num_hashes):
        ha = hashlib.md5(f"mh-a:{i}".encode()).hexdigest()
        hb = hashlib.md5(f"mh-b:{i}".encode()).hexdigest()
        a.append(int(ha[:8], 16) % (_MERSENNE_P - 1) + 1)
        b.append(int(hb[:8], 16) % _MERSENNE_P)
    return a, b


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, seed, minhash) via ONE md5 per shingle + a universal integer
    hash family per seed.

    The naive formulation hashes every (shingle × seed) combination —
    num_hashes full digests per shingle.  Here the digest is computed
    once (``h`` = first 8 hex chars of md5(shingle) as an int, mod
    p = 2^31-1) and the per-seed permutations are ``(a_i*h + b_i) mod p``
    — pure 64-bit integer codegen (products < 2^62, no overflow on
    either engine), ~num_hashes× less hashing on the dominant explode.
    One explode of (shingle × seed) followed by a min-agg: partial
    aggregation makes the shuffle carry only (id, seed, current-min).
    """
    sh = shingles(df, n, text_col, id_col)
    return _signatures_from_shingles(sh, num_hashes, id_col)


def _hex_int_expr(md5_col, n_chars: int = 8):
    """First ``n_chars`` hex chars of an md5 string column as a bigint —
    nibble instr-decode, the engine-portable simhash trick."""
    total = None
    for i in range(n_chars):
        nib = (
            F.instr(F.lit("0123456789abcdef"), F.substring(md5_col, i + 1, 1))
            - 1
        ).cast("bigint")
        term = nib * F.lit(16 ** (n_chars - 1 - i)).cast("bigint")
        total = term if total is None else total + term
    return total


def _signature_row(sh: DataFrame, num_hashes: int, id_col: str) -> DataFrame:
    """One WIDE row per document: ``__mh0..__mhN`` parallel min columns.

    The naive shape explodes (shingle × seed) — num_hashes× the shingle
    rows through the aggregation.  Like simhash's 32 vote columns, the
    permutation mins are independent aggregates over the SAME shingle
    rows, so they compute as parallel agg columns in one codegen
    HashAggregate: the shuffle carries one partially-aggregated
    num_hashes-column row per (partition, doc) instead of num_hashes×
    the shingle rows.
    """
    a_co, b_co = minhash_coeffs(num_hashes)
    hashed = sh.withColumn(
        "__h", _hex_int_expr(F.md5(F.col("shingle"))) % F.lit(_MERSENNE_P)
    )
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                (
                    F.lit(a_co[i]).cast("bigint") * F.col("__h")
                    + F.lit(b_co[i]).cast("bigint")
                )
                % F.lit(_MERSENNE_P)
            ).alias(f"__mh{i}")
            for i in range(num_hashes)
        ]
    )


def _signatures_from_shingles(
    sh: DataFrame, num_hashes: int, id_col: str
) -> DataFrame:
    wide = _signature_row(sh, num_hashes, id_col)
    return wide.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.col(f"__mh{i}") for i in range(num_hashes)])
        ).alias("seed", "mh"),
    )


def lsh_bands(
    sigs: DataFrame,
    band_size: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_sig): the band's minhashes in seed order, joined
    into one equality key.

    Seed order is reconstructed with one conditional MIN per band slot
    (exactly one row exists per (id, seed)) — a plain codegen'd
    HashAggregate, instead of the ObjectHashAggregate a
    sort_array(collect_list(struct)) would force.  The key is the plain
    comma-joined string (only equality matters; a digest would add one
    hash per (id, band) for nothing).
    """
    banded = sigs.withColumn("band", (F.col("seed") / band_size).cast("int"))
    slots = [
        F.min(F.when(F.col("seed") % band_size == r, F.col("mh"))).alias(
            f"__m{r}"
        )
        for r in range(band_size)
    ]
    agg = banded.groupBy(id_col, "band").agg(*slots)
    return agg.select(
        F.col(id_col),
        F.col("band"),
        F.concat_ws(
            ",", *[F.col(f"__m{r}") for r in range(band_size)]
        ).alias("band_sig"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_exact: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs from LSH band collisions, verified by exact Jaccard.

    With k=16, b=4 bands of r=4 rows the collision curve is
    P(candidate) = 1-(1-j^4)^4 — steep around j≈0.5, the usual near-dup
    operating point. Verification joins shingle sets only for candidates.

    **Mega-cluster guards** (real corpora are full of byte-identical
    docs — the exact situation dedup exists for — and a band bucket of
    m identical docs makes the candidate self-join O(m^2)):

    - ``collapse_exact`` (default on) groups documents by content md5
      FIRST and runs the whole LSH pipeline on one representative per
      group; pairs are expanded back afterwards (intra-group members are
      exact dups → jaccard 1.0; a rep-level near-dup pair expands to the
      cross product of the two member groups). Results are IDENTICAL to
      the uncollapsed run — identical text means identical shingle sets,
      so every member collides and scores exactly like its rep — but the
      quadratic band self-join only ever sees one row per distinct text.
      The expansion joins are sized by the true output, which is the
      floor for any pair-listing operator.
    - ``max_bucket_size`` (optional) additionally drops band buckets
      with more than that many *distinct* texts before candidate
      generation — the LSH sibling of ``jaccard_pairs``'s
      ``max_shingle_freq`` hub guard, for templated near-identical
      clusters that survive the exact collapse. Unlike the collapse this
      trades recall (dropped buckets generate no candidates there;
      pairs may still surface via their other bands).
    """
    if collapse_exact:
        gmap = df.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("__ch")
        )
        reps = gmap.groupBy("__ch").agg(F.min(id_col).alias("__rep"))
        members = gmap.join(reps, "__ch").select(
            F.col(id_col).alias("__member"), "__rep", "__ch"
        )
        lsh_df = df.join(
            reps.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
        )
    else:
        lsh_df = df
    # one shingle materialization serves the signatures and the
    # verification sets (localCheckpoint: GC-released blocks, lineage cut;
    # Delta staging at corpus scale)
    sh = materialize(shingles(lsh_df, n, text_col, id_col))
    # band signatures straight off the wide signature row — the banding
    # needs NO second shuffle (lsh_bands' (id, band) re-agg exists only
    # for callers holding the long (id, seed, mh) shape)
    wide = _signature_row(sh, num_hashes, id_col)
    if num_hashes % band_size:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of band_size "
            f"({band_size}): a trailing partial band here would silently "
            "diverge from lsh_bands, which emits one"
        )
    n_bands = num_hashes // band_size
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",",
                *[
                    F.col(f"__mh{b * band_size + r}")
                    for r in range(band_size)
                ],
            ).alias("band_sig"),
        )
        for b in range(n_bands)
    ]
    bands = wide.select(F.col(id_col), F.inline(F.array(*band_structs)))
    if max_bucket_size is not None:
        bucket_n = bands.groupBy("band", "band_sig").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        bands = bands.join(
            bucket_n.filter(F.col("__bn") <= max_bucket_size).select(
                "band", "band_sig"
            ),
            ["band", "band_sig"],
        )
    b1, b2 = bands.alias("b1"), bands.alias("b2")
    cands = (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.band_sig") == F.col("b2.band_sig"))
            & (F.col(f"b1.{id_col}") < F.col(f"b2.{id_col}")),
        )
        .select(
            F.col(f"b1.{id_col}").alias("doc1"),
            F.col(f"b2.{id_col}").alias("doc2"),
        )
        .distinct()
    )
    # exact-Jaccard verification on candidates only
    sets = sh.groupBy(id_col).agg(
        F.collect_list("shingle").alias("set"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    rep_pairs = _verify_sets(cands, sets, threshold)
    if not collapse_exact:
        return rep_pairs
    # expand representative pairs back to member pairs
    m1 = members.select(
        F.col("__rep").alias("doc1"), F.col("__member").alias("m1")
    )
    m2 = members.select(
        F.col("__rep").alias("doc2"), F.col("__member").alias("m2")
    )
    cross = (
        rep_pairs.join(m1, "doc1")
        .join(m2, "doc2")
        .select(
            F.least("m1", "m2").alias("doc1"),
            F.greatest("m1", "m2").alias("doc2"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross
    # intra-group member pairs are exact dups (jaccard 1.0) — but only
    # for texts that produce >=1 shingle (presence in the rep set table
    # mirrors the uncollapsed pipeline, where shingle-less docs never
    # enter pair generation)
    mm = members.join(
        sets.select(F.col(id_col).alias("__rep")), "__rep"
    )
    intra = (
        mm.alias("x")
        .join(
            mm.alias("y"),
            (F.col("x.__ch") == F.col("y.__ch"))
            & (F.col("x.__member") < F.col("y.__member")),
        )
        .select(
            F.col("x.__member").alias("doc1"),
            F.col("y.__member").alias("doc2"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(intra)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``bits``-bit SimHash fingerprint (up to 64, default 32) from
    distinct-word md5 bit votes.

    bit k of word-hash = nibble bit of hex char k/4 of md5(word) —
    md5-derived so the DuckDB oracle can reproduce it exactly.

    Plan shape (iterated via .explain): one word-explode, then 32 vote
    sums as parallel aggregate COLUMNS over the word rows — not an
    explode(word × bit) row blowup. The shuffle carries one partially
    aggregated 32-column row per (partition, doc) instead of 32× the word
    rows; at corpus scale that's the difference between shuffling ~N·32
    rows and ~N words with map-side combine.

    Per-row decode (r14, guide §1.2 step 2): the hex digest is parsed
    ONCE per word row into one 32-bit integer per 8 hex chars
    (``conv(substring(h, 1+8i, 8), 16, 10)``), and each of the ``bits``
    vote expressions is then a shift-and-mask on that long — instead of
    the previous per-BIT ``instr``/``substring`` nibble decode, which
    ran ``bits`` string scans per word row. Same bit values by
    construction (hex char j holds bits 4j..4j+3, MSB first — verified
    0 mismatches at bits=64 over the sf0.1 corpus, and the DuckDB
    cross-engine test pins bits 32/44/64); this is pure per-task-work
    over the full word stream, the dominant per-byte compute of a
    corpus-scale fingerprint pass — measured 0.75x min-of-3 interleaved
    on the sf0.1 vote agg.
    """
    if not 0 < bits <= 64:
        # past 64 every k >= 63 would reuse the -(2^63) two's-complement
        # weight (silently corrupting fingerprints) and the running sum
        # could overflow long; the fingerprint rides a single bigint, so
        # fail loudly here instead
        raise ValueError(f"bits must be in (0, 64]; got {bits}")
    words = F.array_distinct(F.split(F.col(text_col), " "))
    n_halves = (bits + 31) // 32
    w = (
        df.select(F.col(id_col), F.explode(words).alias("word"))
        .withColumn("h", F.md5(F.col("word")))
        # one integer parse per 8 hex chars, projected once per word row;
        # every vote expression below is then shift-and-mask on a long
        .select(
            F.col(id_col),
            *[
                F.conv(F.substring("h", 1 + 8 * i, 8), 16, 10)
                .cast("long")
                .alias(f"__hx{i}")
                for i in range(n_halves)
            ],
        )
    )

    def bit_expr(k: int):
        # hex char j = k//4 sits at bits 4*(7 - j%8)..+3 of half j//8,
        # MSB first; within the nibble bit k%4 is offset 3 - k%4
        off = 31 - 4 * ((k // 4) % 8) - (k % 4)
        bit = F.shiftright(F.col(f"__hx{k // 32}"), off) % 2
        return bit * 2 - 1  # signed vote

    votes = w.groupBy(id_col).agg(
        *[F.sum(bit_expr(k)).alias(f"v{k}") for k in range(bits)]
    )
    fp = None
    for k in range(bits):
        # bit 63 can't ride a positive long literal (1 << 63 overflows
        # signed 64); its two's-complement weight -(2^63) sets the sign
        # bit and the running sum stays in range (worst case
        # (2^63 - 1) - 2^63 = -1), so bits=64 fingerprints land as
        # negative bigints with the exact bit pattern — xor/bit_count/
        # mask-after-shift chunk extraction all operate on the pattern,
        # not the sign
        weight = (1 << k) if k < 63 else -(1 << 63)
        term = F.when(F.col(f"v{k}") > 0, F.lit(weight)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select(
        F.col(id_col), fp.cast("bigint").alias("simhash")
    )


def simhash_params(n: int, max_hamming: int = 3) -> int:
    """Fingerprint width for :func:`simhash_near_pairs`, scaled with the
    corpus — the same discipline as the RP/IVF-PQ budgets (r9 commit
    0c9f128): parameters that must grow with the data are RULES, not
    constants.

    The pigeonhole banding splits ``bits`` into ``max_hamming + 1``
    chunks of width ``w = bits / (max_hamming + 1)``; candidate volume
    per chunk is ``Σ_buckets C(n_b, 2) ≈ n² / 2^(w+1)`` under balanced
    buckets, so holding ``w`` fixed makes candidates grow QUADRATICALLY
    in the corpus. Targeting an expected bucket population of ~4 rows
    gives ``w = ceil(log2(n / 4))``, floored at 8 (the 32-bit family —
    below ~4k docs the join is already tiny) and capped by the bigint
    fingerprint at ``64 // (max_hamming + 1)``. The r9 4× probe with
    the fixed 32-bit default measured 11.19× time on 8.59× rows; the
    hot-chunk probe showed 64-bit fingerprints cut a planted hot
    bucket's candidates ~6× — this rule is that observation made
    automatic. The DuckDB oracle implements the identical rule in SQL
    (bits from COUNT(*)), so correctness is checked AT the scaled
    width, not beside it.
    """
    n_chunks = max_hamming + 1
    w = min(64 // n_chunks, max(8, math.ceil(math.log2(max(n, 2) / 4.0))))
    # the chunk-width rule is about banding balance; the FINGERPRINT
    # never narrows below the 32-bit family (a small radius would
    # otherwise shrink it to n_chunks * 8 bits and collapse precision)
    return max(32, n_chunks * w)


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EVERY doc pair whose SimHash Hamming distance is ``<= max_hamming``
    — exact semantics, sub-quadratic via pigeonhole chunk banding (Manku,
    Jain & Sarma, "Detecting Near-Duplicates for Web Crawling", WWW 2007).

    Split the ``bits``-bit fingerprint into ``max_hamming + 1`` disjoint
    chunks: at most ``max_hamming`` differing bits can touch at most
    ``max_hamming`` chunks, so by pigeonhole every qualifying pair agrees
    EXACTLY on at least one chunk. Candidate generation is therefore a
    plain self-equi-join on ``(chunk_idx, chunk_value)`` — lossless by
    theorem — and each candidate is verified with one
    ``bit_count(fp1 ^ fp2)``, all JVM-side codegen.

    Output: ``(doc1, doc2, hamming)`` with ``doc1 < doc2``.

    Scale shape: fingerprints are materialized once (the self-join would
    otherwise plan the vote aggregation twice); the join key carries only
    ``(chunk, value, id, fp)`` — never the text. Candidate volume is
    Σ_buckets C(n_b, 2); ``bits`` must therefore grow with the corpus
    (64-bit fingerprints → 16-bit chunk keys at the same ``max_hamming``)
    so chunk buckets stay balanced — the chunk width, like any LSH band
    width, must scale with the corpus. ``bits=None`` (the default)
    applies :func:`simhash_params` to ``df.count()`` — one extra
    count job, paid once, in exchange for a width that can't silently
    go quadratic; pass an explicit ``bits`` to pin a fingerprint
    family. The Hamming verification runs BEFORE the pair-dedup
    shuffle, so only true near-pairs ride it.
    """
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0; got {max_hamming}")
    if bits is None:
        bits = simhash_params(df.count(), max_hamming=max_hamming)
    if not 0 <= max_hamming < bits:
        raise ValueError(
            f"max_hamming must be in [0, bits); got {max_hamming}"
        )
    fp = materialize(simhash(df, bits=bits, text_col=text_col, id_col=id_col))
    n_chunks = max_hamming + 1
    base, rem = divmod(bits, n_chunks)
    keys, start = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        keys.append(
            F.struct(
                F.lit(c).alias("c"),
                F.shiftright(F.col("simhash"), start)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("cv"),
            )
        )
        start += w
    ch = fp.select(
        id_col, "simhash", F.explode(F.array(*keys)).alias("k")
    ).select(id_col, "simhash", F.col("k.c").alias("c"), F.col("k.cv").alias("cv"))
    a = ch.select(
        F.col(id_col).alias("doc1"), F.col("simhash").alias("fp1"), "c", "cv"
    )
    b = ch.select(
        F.col(id_col).alias("doc2"), F.col("simhash").alias("fp2"), "c", "cv"
    )
    return (
        a.join(b, ["c", "cv"])
        .filter(F.col("doc1") < F.col("doc2"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp1").bitwiseXOR(F.col("fp2"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc1", "doc2", "hamming")
        .dropDuplicates(["doc1", "doc2"])
    )


# --------------------------------------------------------------------------
# embedding near-dup
# --------------------------------------------------------------------------


def embedding_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    blocks: int = 32,
    n_planes: int | None = None,
    bands: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by cosine similarity over an embedding column.

    Two strategies, picked by the threshold regime:

    - **LSH** (``threshold >= 0.72``): banded hyperplane-LSH candidate
      generation + exact-cosine verification within candidates —
      sublinear in the far-pair mass, the 100 TB path for real
      near-duplicates. Band geometry defaults are **threshold-adaptive**
      (pass ``n_planes``/``bands`` to override):

      - ``threshold < 0.9`` → 6-bit bands × 8: per-band match
        ``(1 - θ/π)^6``, recall ≈ 0.81 at the 0.72 LSH floor, 0.97 at
        cosine 0.90; random far pairs collide somewhere with prob
        ``1-(1-0.5^6)^8`` ≈ 12%.
      - ``threshold >= 0.9`` → 12-bit bands × 12: at this operating
        point the 6-bit geometry is the wrong trade — per-bit agreement
        for a qualifying pair is ≥ 0.9, so deep bands still match
        (recall ≈ 0.98 at cosine 0.95, 0.997 at 0.97) while the far-pair
        collision mass drops to ``1-(1-0.5^12)^12`` ≈ 0.3% — the ~40×
        candidate-set reduction that keeps the high-threshold path from
        going superlinear on big corpora (r4 scale probe: 5.3× at 4×
        with the shallow geometry).

      Verification is exact, so precision is always 1; raise ``bands``
      when operating near the threshold floor.
    - **exact** (``threshold < 0.72``): block-grid all-pairs. Below
      cosine ≈ 0.7 on dense vectors LSH bucket agreement degrades toward
      coin-flipping — no bucketing family separates pairs at 60-70°
      angles — so exact computation is the only way to honor the
      threshold. The grid turns the cross product into an EQUI-join on
      (block_i, block_j) cell ids: each side replicates ~blocks/2 times,
      every cell is an independent join group (B(B+1)/2 parallel units),
      and no BroadcastNestedLoopJoin appears anywhere. Quadratic compute
      by necessity, but distributed and shuffle-bounded, not a
      single-task cartesian.

    Output: (doc1, doc2, cosine), doc1 < doc2, each unordered pair once.
    """
    if threshold < 0.72:
        return _block_grid_gemm(
            emb, id_col, vec_col, threshold=threshold, blocks=blocks
        )
    if n_planes is None:
        n_planes = 12 if threshold >= 0.9 else 6
    if bands is None:
        bands = 12 if threshold >= 0.9 else 8
    from faust_spark.operators.similarity import cosine_expr

    cand = _lsh_candidate_pairs(
        emb, id_col, vec_col, n_planes=n_planes, bands=bands, dim=dim
    )
    return (
        cand.withColumn("cosine", cosine_expr(F.col("v1"), F.col("v2")))
        .filter(F.col("cosine") >= threshold)
        .select("doc1", "doc2", "cosine")
    )


def _block_grid_gemm(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    blocks: int,
) -> DataFrame:
    """Exact all-pairs cosine as a grid of per-cell BLAS matrix products.

    Row → block ``b = xxhash64(id) mod B``. The left side emits cells
    ``(b, j)`` for ``j in b..B-1``; the right side emits ``(i, b)`` for
    ``i in 0..b``. A pair with blocks ``bx < by`` meets only in cell
    ``(bx, by)``; same-block pairs meet in ``(b, b)`` and are halved by
    ``id1 < id2``. Cell coordinates are the cogroup key, so each of the
    B(B+1)/2 cells is an independent, evenly-sized task computing one
    normalized GEMM (``A_hat @ B_hat.T``) and emitting only the pairs at
    or above the threshold.

    Why Arrow/pandas here and not ``zip_with``: the shuffle moves only the
    ~B/2-replicated vectors (cells), never materialized pairs, and the
    n²·d inner loop runs inside BLAS instead of Catalyst's *interpreted*
    higher-order functions — measured ~10× on the sf0.1 fixture. This is
    the documented escape-hatch shape: batch-columnar, no per-row Python.
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    B = blocks
    id_type = emb.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("doc1", id_type, True),
            StructField("doc2", id_type, True),
            StructField("cosine", DoubleType(), True),
        ]
    )
    # Distinct per-side column names: both sides derive from the same plan,
    # and a self-cogroup with shared names/attribute ids gets its right-side
    # payload columns pruned by DeduplicateRelations (observed: right pdf
    # arrives with only the grouping keys).
    left = (
        emb.select(F.col(id_col).alias("__lid"), F.col(vec_col).alias("__lv"))
        .withColumn(
            "__bi", F.pmod(F.xxhash64(F.col("__lid")), F.lit(B)).cast("int")
        )
        .withColumn("__bj", F.explode(F.sequence(F.col("__bi"), F.lit(B - 1))))
    )
    right = (
        emb.select(F.col(id_col).alias("__rid"), F.col(vec_col).alias("__rv"))
        .withColumn(
            "__bj", F.pmod(F.xxhash64(F.col("__rid")), F.lit(B)).cast("int")
        )
        .withColumn("__bi", F.explode(F.sequence(F.lit(0), F.col("__bj"))))
    )

    def cell(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        bi, bj = key
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"doc1": [], "doc2": [], "cosine": []})
        A = np.stack(lpdf["__lv"].to_numpy()).astype(np.float64)
        C = np.stack(rpdf["__rv"].to_numpy()).astype(np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        C /= np.linalg.norm(C, axis=1, keepdims=True)
        S = A @ C.T
        li, ri = np.nonzero(S >= threshold)
        d1 = lpdf["__lid"].to_numpy()[li]
        d2 = rpdf["__rid"].to_numpy()[ri]
        cos = S[li, ri]
        if bi == bj:
            keep = d1 < d2
        else:  # orientation: ids are unrelated to block order in i<j cells
            keep = np.ones(len(d1), dtype=bool)
            d1, d2 = np.minimum(d1, d2), np.maximum(d1, d2)
        return pd.DataFrame(
            {"doc1": d1[keep], "doc2": d2[keep], "cosine": cos[keep]}
        )

    return (
        left.groupBy("__bi", "__bj")
        .cogroup(right.groupBy("__bi", "__bj"))
        .applyInPandas(cell, out_schema)
    )


def _lsh_candidate_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_planes: int,
    bands: int,
    dim: int,
) -> DataFrame:
    """Banded hyperplane-LSH candidates: ``bands`` independent tables of
    ``n_planes`` sign bits each; a pair sharing ANY band bucket becomes a
    candidate (each unordered pair emitted once). Corpus shuffles by
    (band, bucket) — candidates ≪ pairs for near-dup thresholds."""
    from faust_spark.operators.similarity import hyperplane_signature

    sigs = emb.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    tagged = None
    for band in range(bands):
        s = hyperplane_signature(
            sigs, n_planes=n_planes, dim=dim, vec_col="__v", seed=band
        ).select(
            "__id", "__v", F.lit(band).alias("__band"), F.col("bucket")
        )
        tagged = s if tagged is None else tagged.unionByName(s)
    a = tagged.select(
        F.col("__id").alias("doc1"),
        F.col("__v").alias("v1"),
        "__band",
        "bucket",
    )
    b = tagged.select(
        F.col("__id").alias("doc2"),
        F.col("__v").alias("v2"),
        "__band",
        "bucket",
    )
    return (
        a.join(b, ["__band", "bucket"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", "v1", "v2")
        .dropDuplicates(["doc1", "doc2"])
    )


def _semantic_dup_cells(
    a: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 4096,
    max_cell_rows: int = 1 << 16,
) -> DataFrame:
    """Within-cell duplicate marking, Arrow-batched — the pairwise stage
    of :func:`semantic_dedup`.

    Input is the exact assignment relation ``(id, vec, cell)``; output
    is every input row as ``(id, cell, is_dup)`` with values IDENTICAL
    to the relational form (a self equi-join on cell, as the gate's SQL
    oracle writes it): ``is_dup(b)`` iff some same-cell row with a lower
    id reaches ``cos >= threshold``.

    Exactness discipline (same contract as ``assign_cells_arrow``): the
    relational form evaluates ``dot/(n_a*n_b) >= t`` with one IEEE
    double add per dimension, ascending, from a 0.0 init, after
    per-element casts to double. Here the identical operations run
    vectorized: dots accumulate as ``d`` ascending rank-1 updates
    (``acc += outer(A[:,j], B[:,j])``), norms as the same ascending
    squared fold, and the divisor is the norm PRODUCT (multiply first,
    divide once) — so every comparison sees the same double as the
    DuckDB oracle. NaN (0/0 on a zero-norm row) maps to +inf before
    comparing, because Spark and DuckDB order NaN above every double
    while numpy comparisons return False.

    Scale shape: ONE cell-keyed shuffle into ``applyInPandas``; per-task
    memory is O(chunk · n_cell) doubles via id-ascending slabs whose
    flags accumulate across chunks — a cell never materializes its full
    pair matrix. The quadratic term stays bounded per cell (scale
    ``len(cents)`` with the corpus); no join, no nested loop, no driver
    collect.

    ``max_cell_rows`` (VERDICT r8 item 4) bounds the population a
    single cell task will accept: a degenerate quantizer (one hot cell
    — e.g. a constant-embedding corpus, or a centroid model far from
    the data) would otherwise OOM the Python worker on the
    chunk × n_cell slab. The guard raises a ValueError naming the cell
    and its population BEFORE any slab allocates — the fix is a bigger
    centroid model (semantic_dedup scales ``len(cents)`` with the
    corpus precisely so cells stay bounded) or a raised cap. At the
    default chunk=4096 the cap of 65536 rows keeps the slab at
    ~2 GiB/task.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BooleanType, StructField, StructType

    t = float(threshold)
    cap = int(max_cell_rows)
    out_schema = StructType(
        [
            StructField(id_col, a.schema[id_col].dataType, True),
            StructField("cell", a.schema["cell"].dataType, True),
            StructField("is_dup", BooleanType(), False),
        ]
    )

    def mark(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > cap:
            cell_id = pdf["cell"].iloc[0]
            raise ValueError(
                f"_semantic_dup_cells: cell {cell_id} holds {len(pdf)} "
                f"rows, above the max_cell_rows bound of {cap}; the "
                "chunked pairwise slab would exhaust task memory. Use "
                "a larger centroid model so cells stay bounded, or "
                "raise max_cell_rows explicitly."
            )
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        pdf = pdf.iloc[order]
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n, d = V.shape
        acc = np.zeros(n)
        for j in range(d):
            acc += V[:, j] * V[:, j]
        nrm = np.sqrt(acc)
        dup = np.zeros(n, dtype=bool)
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            # slab rows s..e score against ALL rows below e; earlier
            # slabs' flags are already final (ids ascend with index)
            dots = np.zeros((e - s, e))
            for j in range(d):
                dots += np.multiply.outer(V[s:e, j], V[:e, j])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / np.multiply.outer(nrm[s:e], nrm[:e])
            cos[np.isnan(cos)] = np.inf  # Spark/DuckDB: NaN > any double
            lower = np.arange(e)[None, :] < np.arange(s, e)[:, None]
            dup[s:e] = np.any((cos >= t) & lower, axis=1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "is_dup": dup,
            }
        )

    return a.select(id_col, vec_col, "cell").groupBy("cell").applyInPandas(
        mark, out_schema
    )


def semantic_dedup(
    emb: DataFrame,
    cents: list[list[float]],
    threshold: float = 0.42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_rows: int = 1 << 16,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the embedding space,
    then mark as duplicates the vectors whose within-cluster cosine to a
    lower-id vector reaches ``threshold`` (Abbas et al. 2023, "SemDeDup" —
    prune semantically redundant training data by deduplicating inside
    k-means cells, never across the whole corpus).

    ``cents`` is the coarse-quantizer model (from
    :func:`faust_spark.operators.similarity.kmeans_centroids`, or the
    deterministic lowest-id seed rows for an oracle-checkable iters=0
    run).  Assignment is the exact flat argmin, run as a narrow Arrow
    numpy pass (:func:`~faust_spark.operators.similarity.
    assign_cells_arrow`: ascending-dimension distance fold, lowest cell
    on ties).  The pairwise stage is ONE cell-keyed shuffle into the
    chunked numpy scorer :func:`_semantic_dup_cells`, so the quadratic
    term is bounded per cell — at 100 TB you scale ``len(cents)`` with
    the corpus to cap cell population, and no n×k row materialization,
    pair join or BroadcastNestedLoopJoin ever appears.  Keeper choice is
    the deterministic min-id rule, so results are stable across runs,
    engines, and partitionings; the fold orders match the SQL form
    (cross-join argmin + cell equi-join) bit for bit.

    Output: every input row as ``(id, cell, is_dup)`` — downstream keeps
    ``NOT is_dup`` rows; emitting the flag (rather than pre-filtering)
    makes the pruning decision itself auditable.

    ``max_cell_rows`` is the per-cell population guard (see
    :func:`_semantic_dup_cells`) — exposed here so a legitimately
    large cell has a public escape hatch instead of a hard fail telling
    the caller to set a parameter they couldn't reach.
    """
    from faust_spark.operators.similarity import assign_cells_arrow

    a = assign_cells_arrow(emb, cents, vec_col=vec_col, id_col=id_col)
    return _semantic_dup_cells(
        a,
        threshold,
        id_col=id_col,
        vec_col=vec_col,
        max_cell_rows=max_cell_rows,
    )


def edit_distance_pairs_exact(
    docs: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EVERY pair with ``levenshtein <= k`` — exact semantics,
    sub-quadratic via PassJoin-style pigeonhole segment blocking
    (Li, Deng, Jiang, Feng, "PASS-JOIN", VLDB 2012).

    Partition the SHORTER string of each pair into ``k+1`` segments. If
    ``lev(a, b) <= k``, at most ``k`` edits touch ``a``, so by
    pigeonhole at least one segment survives edit-free and appears in
    ``b`` as an EXACT substring — at a position shifted by ``d`` where
    ``|d| + |delta - d| <= k`` (``delta`` = length gap; edits before
    the segment shift it by at most their count, edits after absorb the
    rest). Blocking is therefore a plain EQUI-join, lossless by
    theorem:

    * index side — ``k+1`` segments per doc, keyed
      ``(la, i, xxhash64(segment))`` (8-byte hash keys: collisions only
      ADD candidates, every candidate is Levenshtein-verified);
    * probe side — for each doc and each candidate shorter-length
      ``la`` in ``[len-k, len]``, the position-window substrings that
      could equal segment ``i`` of an ``la``-long partner.

    The index side is ``k+1`` rows/doc (linear, tiny next to the probe
    explosion) and is broadcast so the probe stream never shuffles; at
    corpus scales past broadcast both sides shuffle on the same key,
    still linear. Shorter-side-below-``k+1`` strings (segments would
    be empty) take a bounded all-pairs pool — both sides are then
    ``< 2k+2`` chars, a corpus tail. Verification runs
    threshold-bounded ``levenshtein(ta, tb, k)`` on deduplicated
    candidates only; texts join back AFTER candidate dedup so the
    exploded probe rows stay narrow.

    Returns (doc1, doc2, dist) with doc1 < doc2 and dist <= k.
    Losslessness is property-tested against a brute-force quadratic
    oracle on random strings (tests/test_operator_properties.py).
    """
    nseg = k + 1
    spark = docs.sparkSession
    # a single-split source must not run the ~(k+1)^3-rows/doc expansion
    # in one task (at warehouse scale the source has many splits and
    # this repartition is a no-op shape)
    docs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.length(text_col).alias("len"),
    ).repartition(spark.sparkContext.defaultParallelism, "doc_id")

    # index: length-L scheme: base = L div (k+1); the LAST (L mod (k+1))
    # segments are one char longer.
    # start(i) = i*base + max(0, i - (k+1 - L mod (k+1))).
    seg_struct = (
        "transform(sequence(0, {m}), i -> named_struct("
        "  'la', len, 'i', i,"
        "  'seg', substring(text,"
        "     i * (len div {n}) + greatest(0, i - ({n} - len % {n})) + 1,"
        "     (len div {n}) + if(i >= {n} - len % {n}, 1, 0))))"
    ).format(m=nseg - 1, n=nseg)
    index = (
        docs.filter(F.col("len") >= nseg)
        .select(
            F.col("doc_id").alias("id_a"),
            F.col("len").alias("len_a"),
            F.explode(F.expr(seg_struct)).alias("s"),
        )
        .select(
            "id_a", "len_a", "s.la", "s.i",
            F.xxhash64("s.seg").alias("segh"),
        )
    )

    # probe window on the shift d = q - p_i, intersecting THREE bounds
    # (PASS-JOIN's multi-match-aware substring selection, Lemma 3):
    #   length-aware:   |d| + |delta - d| <= k  (delta = len - la >= 0)
    #                   =>  d in [-(k-delta) div 2, delta + (k-delta) div 2]
    #   left-count:     |d| <= i          (an alignment shifting segment i
    #                   by more than i prefix edits is always also caught
    #                   through one of the i earlier segments)
    #   right-count:    |d - delta| <= k - i  (mirror bound from the
    #                   k - i segments after i)
    # The union over segments stays lossless (candidates are deduped
    # before verification); each window shrinks from ~k-delta+1 wide to
    # ~min(2i, 2(k-i), k-delta)+1 — roughly halving probe rows.
    probe_struct = (
        "flatten(transform(sequence(greatest(len - {k}, {n}), len), la ->"
        " flatten(transform(sequence(0, {m}), i ->"
        "  transform("
        "   sequence("
        "    greatest(0,"
        "     i * (la div {n}) + greatest(0, i - ({n} - la % {n}))"
        "      + greatest(-i, (len - la) - ({k} - i),"
        "                 -((({k}) - (len - la)) div 2))),"
        "    least(len - ((la div {n}) + if(i >= {n} - la % {n}, 1, 0)),"
        "     i * (la div {n}) + greatest(0, i - ({n} - la % {n}))"
        "      + least(i, (len - la) + ({k} - i),"
        "              (len - la) + ((({k}) - (len - la)) div 2)))),"
        "   q -> named_struct('la', la, 'i', i,"
        "    'seg', substring(text, q + 1,"
        "     (la div {n}) + if(i >= {n} - la % {n}, 1, 0))))))))"
    ).format(k=k, m=nseg - 1, n=nseg)
    # probe side carries the same len >= k+1 guard as the index: a
    # shorter probe doc can only pair with an indexed doc of length
    # >= k+1, which the tiny pool below covers instead — and without
    # the filter the outer sequence(greatest(len-k, k+1), len) runs
    # DESCENDING for len <= k (Spark's stop < start default), emitting
    # garbage rows that only die at the join filter.
    probe = docs.filter(F.col("len") >= nseg).select(
        F.col("doc_id").alias("id_b"),
        F.col("len").alias("len_b"),
        F.explode(F.expr(probe_struct)).alias("s"),
    ).select(
        "id_b", "len_b", "s.la", "s.i",
        F.xxhash64("s.seg").alias("segh"),
    )

    cand = (
        F.broadcast(index)
        .join(probe, ["la", "i", "segh"])
        .filter(
            # shorter side indexed; equal lengths pair both ways — keep one
            (F.col("len_a") < F.col("len_b"))
            | (
                (F.col("len_a") == F.col("len_b"))
                & (F.col("id_a") != F.col("id_b"))
            )
        )
        .select(
            F.least("id_a", "id_b").alias("doc1"),
            F.greatest("id_a", "id_b").alias("doc2"),
        )
        .dropDuplicates(["doc1", "doc2"])
    )

    # bounded pool for shorter-side < k+1 chars
    tiny = docs.filter(F.col("len") < nseg).select(
        F.col("doc_id").alias("id_a"), F.col("len").alias("len_a")
    )
    tiny_partner = docs.filter(F.col("len") < nseg + k).select(
        F.col("doc_id").alias("id_b"), F.col("len").alias("len_b")
    )
    pool = (
        tiny.join(
            tiny_partner,
            (F.col("id_a") != F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= k),
        )
        .select(
            F.least("id_a", "id_b").alias("doc1"),
            F.greatest("id_a", "id_b").alias("doc2"),
        )
        .dropDuplicates(["doc1", "doc2"])
    )

    ta = docs.select(F.col("doc_id").alias("doc1"), F.col("text").alias("ta"))
    tb = docs.select(F.col("doc_id").alias("doc2"), F.col("text").alias("tb"))
    return (
        cand.unionByName(pool)
        .dropDuplicates(["doc1", "doc2"])
        .join(ta, "doc1")
        .join(tb, "doc2")
        .withColumn("dist", F.levenshtein("ta", "tb", k))
        .filter(F.col("dist") >= 0)
        .select("doc1", "doc2", "dist")
    )


def substring_dup_spans(
    docs: DataFrame,
    window: int = 40,
    stride: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-span detection (Lee, Ippolito et al.,
    "Deduplicating Training Data Makes Language Models Better",
    ACL 2022 — the ExactSubstr pass): slide a ``window``-char window at
    ``stride`` over every document, hash each window, and flag windows
    whose hash occurs in >= 2 DISTINCT documents.  Catches documents
    that share long verbatim spans (boilerplate, quotations, mirrored
    articles) that document-level exact/MinHash dedup misses because
    the surrounding text differs.

    Scale shape: the window hashes are computed inside one codegen
    ``transform`` over the text column, so only ``(hash, doc_id)``
    digests ever shuffle — corpus text stays in the scan stage.  Both
    the duplicate-hash aggregate and the flag join key on the hash, so
    the whole operator is two linear digest-keyed shuffles (the second
    reuses the first's partitioning under AQE).  ~1/stride hash rows
    per corpus char, independent of document count.  Production would
    use ``xxhash64`` (8-byte keys); ``md5`` here is the cross-engine
    verifiable choice (DuckDB has no xxhash64).

    Within-document repetition is deliberately out of scope (that is
    ``repetition_stats``); the >= 2 *distinct docs* contract makes this
    the cross-document complement.

    Returns (id, n_windows, n_dup_windows, dup_ratio); dup_ratio is the
    raw double quotient (same integer operands in any engine — exact
    IEEE division, no rounding needed).  Docs shorter than ``window``
    have zero windows and ratio 0.0.
    """
    hashes = F.expr(
        f"transform(sequence(1, length({text_col}) - {window} + 1, {stride}),"
        f" p -> md5(substring({text_col}, p, {window})))"
    )
    # r13 (guide §2.4): the window-digest relation feeds BOTH the
    # duplicate-hash aggregate and the flag join, whose exchanges carry
    # different payloads (no ReuseExchange) — materialize it so the
    # md5-per-window explode runs once, not twice.
    w = materialize(
        docs.filter(F.length(text_col) >= window).select(
            F.col(id_col).alias("__id"), F.explode(hashes).alias("h")
        )
    )
    dup = (
        w.groupBy("h")
        .agg(F.count_distinct("__id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("__dup"))
    )
    per = (
        w.join(dup, "h", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).alias(
                "n_dup_windows"
            ),
        )
    )
    return (
        docs.select(F.col(id_col))
        .join(per, F.col(id_col) == F.col("__id"), "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce(
                F.col("n_dup_windows") / F.col("n_windows").cast("double"),
                F.lit(0.0),
            ).alias("dup_ratio"),
        )
    )


def remove_dup_spans(
    docs: DataFrame,
    window: int = 40,
    stride: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al. ACL 2022):
    delete every character covered by a window whose hash appears in
    >= 2 distinct documents, keeping the rest of the document intact —
    the surgical alternative to dropping whole near-dup docs.

    Scale shape: duplicate-window detection is `substring_dup_spans`'s
    digest-only shuffle pair; the per-doc start positions of flagged
    windows come back as ONE array per doc (<= len/stride elements,
    bounded by doc length), and the character-level cut runs as a pure
    codegen projection — ``filter(sequence(1, len), c -> !exists(
    starts, s -> s <= c < s + window))`` then a substring rebuild.  No
    per-char rows ever exist outside an expression; text shuffles only
    in the final doc-keyed join, once.

    Returns (id, n_chars, n_kept, clean_md5) — md5 of the cleaned text
    so the full reassembly is value-verifiable without shipping it.
    """
    hashes = F.expr(
        f"transform(sequence(1, length({text_col}) - {window} + 1, {stride}),"
        f" p -> named_struct('p', p,"
        f"   'h', md5(substring({text_col}, p, {window}))))"
    )
    # r13 (guide §2.4): same one-pass materialization as
    # substring_dup_spans — the digest explode feeds two differently-
    # shaped exchanges (dup agg, starts join) and would run twice.
    w = materialize(
        docs.filter(F.length(text_col) >= window).select(
            F.col(id_col).alias("__id"), F.explode(hashes).alias("s")
        ).select("__id", "s.p", "s.h")
    )
    dup = (
        w.groupBy("h")
        .agg(F.count_distinct("__id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    starts = (
        w.join(dup, "h")
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("p")).alias("starts"))
    )
    # sequence(1, 0) is DESCENDING in Spark (step defaults to -1 when
    # stop < start), so empty docs need the explicit guard
    kept = (
        f"if(length({text_col}) < 1, array(),"
        f" filter(sequence(1, length({text_col})),"
        f" c -> !exists(__starts, s -> c >= s AND c < s + {window})))"
    )
    return (
        docs.join(starts, F.col(id_col) == F.col("__id"), "left")
        .withColumn(
            "__starts",
            F.coalesce(F.col("starts"), F.array().cast("array<int>")),
        )
        .withColumn("__kept", F.expr(kept))
        .select(
            F.col(id_col),
            F.length(text_col).alias("n_chars"),
            F.size("__kept").alias("n_kept"),
            F.md5(
                F.expr(
                    "array_join(transform(__kept,"
                    f" c -> substring({text_col}, c, 1)), '')"
                )
            ).alias("clean_md5"),
        )
    )


__all__ = [
    "exact_dedup",
    "shingles",
    "jaccard_pairs",
    "minhash_signatures",
    "lsh_bands",
    "minhash_lsh_pairs",
    "simhash",
    "embedding_dup_pairs",
    "semantic_dedup",
    "edit_distance_pairs_exact",
    "substring_dup_spans",
    "remove_dup_spans",
]
