"""Deterministic sampling: stability, fraction accuracy, per-key caps."""

import pytest
from pyspark.sql import functions as F

from faust_spark.catalog import load_table
from faust_spark.operators.sampling import hash_sample, top_k_per_key


def test_hash_sample_is_stable_and_close_to_fraction(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select("event_id")
    a = {r.event_id for r in hash_sample(e, "event_id", 0.2).collect()}
    b = {r.event_id for r in hash_sample(e, "event_id", 0.2).collect()}
    assert a == b  # run-to-run identical
    n = e.count()
    assert 0.12 * n <= len(a) <= 0.28 * n  # ~20% ± sampling noise
    # different salt → different (but still deterministic) subset
    c = {r.event_id for r in hash_sample(e, "event_id", 0.2, salt="x").collect()}
    assert c != a


def test_hash_sample_nested_fractions(spark, sf_dir):
    """A 10% sample is a subset of the 20% sample (same salt) — hash
    thresholds nest, which RNG samples don't guarantee."""
    e = load_table(spark, sf_dir, "events").select("event_id")
    small = {r.event_id for r in hash_sample(e, "event_id", 0.1).collect()}
    big = {r.event_id for r in hash_sample(e, "event_id", 0.2).collect()}
    assert small <= big


def test_top_k_per_key_caps_and_stability(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    out = top_k_per_key(e, "user_id", "event_id", k=3)
    per_key = out.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert per_key <= 3
    again = top_k_per_key(e, "user_id", "event_id", k=3)
    assert out.subtract(again).count() == 0


def test_mixture_sample_fractions_and_determinism(spark, sf_dir):
    """Per-group fractions land near target; rerun is identical."""
    from faust_spark.catalog import load_table
    from faust_spark.operators.sampling import mixture_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    fr = {"en": 0.8, "fr": 0.2}
    from pyspark.sql import functions as F

    out = mixture_sample(docs, "lang", "doc_id", fr, default_fraction=0.0)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    tot = {r["lang"]: r["n"] for r in
           docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= {"en", "fr"}  # default 0.0 drops other langs
    for lang, p in fr.items():
        if tot.get(lang, 0) >= 20:
            assert abs(got.get(lang, 0) / tot[lang] - p) < 0.25
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in mixture_sample(
            docs, "lang", "doc_id", fr, default_fraction=0.0
        ).collect()
    )
    assert a == b


def test_assign_splits_partitions_and_leakage_guarantee(spark, sf_dir):
    """Every doc gets exactly one split; proportions land near target;
    the assignment is a pure function of the key (identical on rerun
    and under different partitioning)."""
    from faust_spark.operators.sampling import assign_splits

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = assign_splits(docs, "doc_id", splits)
    n = docs.count()
    got = {r["split"]: r["n"] for r in
           out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(got.values()) == n  # total partition, no drops/dupes
    assert set(got) <= set(splits)
    assert abs(got.get("train", 0) / n - 0.8) < 0.1
    a = sorted((r.doc_id, r.split) for r in out.collect())
    b = sorted(
        (r.doc_id, r.split)
        for r in assign_splits(
            docs.repartition(7), "doc_id", splits
        ).collect()
    )
    assert a == b  # partitioning-invariant


def test_shuffle_shards_is_a_deterministic_permutation(spark, sf_dir):
    """Shard+pos form a permutation: every row appears once, positions
    within a shard are 1..shard_size with no gaps, and the whole
    ordering is identical on rerun."""
    from faust_spark.operators.sampling import shuffle_shards

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = shuffle_shards(docs, "doc_id", n_shards=4)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    again = sorted(
        (r.doc_id, r.shard, r.pos)
        for r in shuffle_shards(
            docs.repartition(5), "doc_id", n_shards=4
        ).collect()
    )
    assert again == sorted((r.doc_id, r.shard, r.pos) for r in rows)
    # the "shuffle" actually reorders: shard-order != doc_id order
    first_shard = sorted(
        (r.pos, r.doc_id) for r in rows if r.shard == min(by_shard)
    )
    ids_in_pos_order = [d for _, d in first_shard]
    assert ids_in_pos_order != sorted(ids_in_pos_order)


def test_stratified_sample_exact_counts(spark, sf_dir):
    """Exactly ceil(frac * n_g) rows per stratum, identical on rerun
    and under a different input partitioning."""
    import math

    from faust_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    totals = {
        r.lang: r.n
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    out = stratified_sample(docs, "lang", "doc_id", 0.25)
    got = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert got == {g: math.ceil(0.25 * n) for g, n in totals.items()}
    again = stratified_sample(docs.repartition(7), "lang", "doc_id", 0.25)
    assert out.subtract(again).count() == 0


def test_temperature_sample_flattens_mixture(spark):
    """alpha=0.5 upsamples the rare group relative to its natural share
    (keep probability rare > common), expected total tracks target_frac,
    and the keep decision is the deterministic hash rule — recomputing
    p by hand and applying the same threshold reproduces the exact
    output set."""
    import math

    from faust_spark.operators.sampling import temperature_sample

    rows = [(i, "common" if i < 900 else "rare") for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = temperature_sample(
        df, group_col="lang", key="doc_id", alpha=0.5, target_frac=0.3,
        hex_chars=8,
    ).collect()

    n = {"common": 900, "rare": 100}
    w = sum(v**0.5 for v in n.values())
    p = {
        g: min(1.0, round(0.3 * 1000 * (v**0.5) / (v * w), 6))
        for g, v in n.items()
    }
    assert p["rare"] > p["common"]  # flattening upsamples the rare group
    # expected kept ~= target_frac * N (exact in expectation by design)
    assert abs(sum(p[g] * n[g] for g in n) - 300) < 1e-6

    import hashlib

    def keep(doc_id, g):
        h = hashlib.md5(str(doc_id).encode()).hexdigest()[:8]
        return int(h, 16) / float(16**8) < p[g]

    want = {(i, g) for i, g in rows if keep(i, g)}
    assert {(r.doc_id, r.lang) for r in out} == want


@pytest.mark.slow
def test_weighted_sample_k_deterministic_and_weight_biased(spark):
    """Efraimidis-Spirakis hash-priority sampling: deterministic across
    runs, and inclusion frequency tracks weight across many salts."""
    from pyspark.sql import functions as F

    from faust_spark.operators.sampling import weighted_sample_k

    rows = [(i, "g", 100.0 if i < 10 else 1.0) for i in range(110)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w double")
    a = {r.doc_id for r in weighted_sample_k(df, "w", 10, per="lang").collect()}
    b = {r.doc_id for r in weighted_sample_k(df, "w", 10, per="lang").collect()}
    assert a == b and len(a) == 10  # no RNG: same draw every time
    # across 30 independent salts, heavy rows (w=100, 10 of them) must
    # dominate the sample vs the 100 light rows (w=1)
    heavy = light = 0
    for s in range(30):
        got = weighted_sample_k(df, "w", 10, per="lang", salt=f"s{s}")
        for r in got.collect():
            if r.doc_id < 10:
                heavy += 1
            else:
                light += 1
    assert heavy > light * 2, (heavy, light)
    # zero/negative weights never sample
    df2 = spark.createDataFrame(
        [(1, "g", 0.0), (2, "g", -1.0), (3, "g", 5.0)],
        "doc_id long, lang string, w double",
    )
    assert [
        r.doc_id for r in weighted_sample_k(df2, "w", 3, per="lang").collect()
    ] == [3]
    # global (per=None) top-k path
    g = weighted_sample_k(df, "w", 7, per=None)
    assert g.count() == 7


def test_cluster_atomic_split(spark):
    """Composing connected components with a root-keyed assign_splits
    keeps every near-dup cluster in ONE split (the leakage guard), and
    singletons match plain per-id split assignment exactly."""
    from faust_spark.operators.graph import connected_components
    from faust_spark.operators.sampling import assign_splits

    docs = spark.createDataFrame(
        [(i,) for i in range(40)], "doc_id long"
    )
    # clusters: {0,1,2}, {10,11}, rest singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc1 long, doc2 long"
    )
    comp = connected_components(docs, pairs)
    out = assign_splits(
        comp, "component", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).collect()
    by_comp: dict = {}
    for r in out:
        by_comp.setdefault(r["component"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_comp.values()), by_comp
    # singleton doc's split == per-id split (component == own id)
    solo = assign_splits(
        docs.filter("doc_id = 20").withColumnRenamed(
            "doc_id", "component"
        ),
        "component",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).collect()[0]["split"]
    got20 = [r["split"] for r in out if r["doc_id"] == 20][0]
    assert got20 == solo


def test_token_budget_plan_invariants(spark):
    """Targets sum to <= budget, no group oversampled past its volume,
    shares sum to ~1, fraction*n_tokens reproduces target."""
    from faust_spark.operators.sampling import token_budget_plan

    rows = []
    did = 0
    for src, n, words in [("a", 30, 50), ("b", 10, 20), ("c", 3, 400)]:
        for _ in range(n):
            rows.append((did, src, " ".join(["w"] * words)))
            did += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    out = {
        r["grp"]: r
        for r in token_budget_plan(docs, 1000, alpha=0.7).collect()
    }
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-6
    assert sum(r["target_tokens"] for r in out.values()) <= 1000
    for r in out.values():
        assert r["target_tokens"] <= r["n_tokens"]
        assert (
            abs(r["fraction"] * r["n_tokens"] - r["target_tokens"])
            < 1e-3
        )


def test_split_leakage_matches_join_form(spark):
    """The projection-labeled audit equals the naive join-the-assignment
    form, pair symmetry is canonicalized (split_a <= split_b), and
    counts cover every input pair exactly once."""
    from faust_spark.operators.sampling import (
        assign_splits,
        split_leakage,
    )

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = spark.range(200).withColumnRenamed("id", "doc_id")
    # every adjacent pair + a few long-range ones
    pairs = docs.selectExpr(
        "doc_id AS doc1", "doc_id + 1 AS doc2"
    ).filter("doc2 < 200")
    got = {
        (r["split_a"], r["split_b"]): r["n_pairs"]
        for r in split_leakage(pairs, fr).collect()
    }
    # naive form: join assignment onto both ends
    asg = assign_splits(docs, "doc_id", fr)
    expect: dict = {}
    lut = {r["doc_id"]: r["split"] for r in asg.collect()}
    for r in pairs.collect():
        a, b = sorted((lut[r["doc1"]], lut[r["doc2"]]))
        expect[(a, b)] = expect.get((a, b), 0) + 1
    assert got == expect
    assert sum(got.values()) == pairs.count()
    assert all(a <= b for a, b in got)
