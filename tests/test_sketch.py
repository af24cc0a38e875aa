"""Bloom-filter sketch operators (operators/sketch.py)."""

from pyspark.sql import functions as F

from faust_spark.operators.sketch import (
    bloom_build,
    bloom_might_contain,
    bloom_prefilter_dedup,
)


def test_bloom_no_false_negatives_and_low_fp(spark):
    corpus = spark.range(0, 2000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    bloom = bloom_build(corpus, "k", m_bits=1 << 16, k_hashes=4)
    assert len(bloom) == (1 << 16) // 64
    # every member must test positive (Bloom guarantees no false negatives)
    members = bloom_might_contain(corpus, "k", bloom)
    assert members.filter(~F.col("__might_contain")).count() == 0
    # non-members: false-positive rate stays near the design point
    # (n=2000, m=65536, k=4 → ~0.3%; assert well under 5%)
    others = spark.range(10_000, 14_000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    fp = (
        bloom_might_contain(others, "k", bloom)
        .filter(F.col("__might_contain"))
        .count()
    )
    assert fp < 200, f"false-positive rate too high: {fp}/4000"


def test_bloom_prefilter_dedup_matches_exact_antijoin(spark):
    # corpus keys 0..999; batch keys 500..1499 → admitted = 1000..1499
    corpus = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )
    batch = spark.range(500, 1500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
    )
    admitted = bloom_prefilter_dedup(batch, corpus, key="text")
    got = sorted(r.doc_id for r in admitted.collect())
    assert got == list(range(1000, 1500))
    # expression keys work too (content identity via md5)
    admitted2 = bloom_prefilter_dedup(batch, corpus, key=F.md5("text"))
    assert sorted(r.doc_id for r in admitted2.collect()) == got


def test_bloom_membership_is_codegen_no_corpus_join(spark):
    """The screen itself must be a broadcast + filter — the corpus
    appears in the plan only through the (already-collected) bitmap."""
    corpus = spark.range(0, 100).select(F.col("id").cast("string").alias("k"))
    bloom = bloom_build(corpus, "k", m_bits=1 << 10)
    screened = bloom_might_contain(
        spark.range(0, 10).select(F.col("id").cast("string").alias("k")),
        "k",
        bloom,
    )
    plan = screened._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_cms_never_undercounts_and_is_mergeable(spark):
    from pyspark.sql import functions as F

    from faust_spark.operators.sketch import cms_counts, cms_estimate

    # skewed frequencies: key i appears i+1 times, 100 keys
    rows = [(f"k{i}",) for i in range(100) for _ in range(i + 1)]
    df = spark.createDataFrame(rows, ["k"])
    counts = cms_counts(df, "k", depth=4, width=256)
    keys = df.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = {
        r.k: (r.true_cnt, r.cms_est)
        for r in cms_estimate(keys, counts, "k", depth=4, width=256).collect()
    }
    n = sum(i + 1 for i in range(100))
    for k, (t, e) in est.items():
        assert e >= t, f"{k}: CMS undercounted {e} < {t}"
        assert e <= t + n, k  # trivially bounded by total mass
    # most keys are exact at this width (collision mass is tiny)
    exact = sum(1 for t, e in est.values() if t == e)
    assert exact > 80
    # linearity: sketch(a) + sketch(b) == sketch(a union b)
    a = df.filter(F.crc32(F.col("k")) % 2 == 0)
    b = df.filter(F.crc32(F.col("k")) % 2 == 1)
    merged = (
        cms_counts(a, "k", depth=2, width=64)
        .unionByName(cms_counts(b, "k", depth=2, width=64))
        .groupBy("d", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = cms_counts(df, "k", depth=2, width=64)
    m = {(r.d, r.bucket): r.cnt for r in merged.collect()}
    w = {(r.d, r.bucket): r.cnt for r in whole.collect()}
    assert m == w


def test_hll_rollup_merges_without_rescan(spark):
    from pyspark.sql import functions as F

    from faust_spark.operators.sketch import (
        hll_rollup_estimate,
        hll_sketches,
    )

    # 3 groups x 4 shards; distinct keys overlap across shards so the
    # union must dedup across sketches, not sum
    rows = [
        (g, s, f"u{g}-{k}")
        for g in range(3)
        for s in range(4)
        for k in range(s * 50, s * 50 + 100)  # 50-key overlap per shard
    ]
    df = spark.createDataFrame(rows, ["g", "shard", "user"])
    sk = hll_sketches(df, "user", "g", "shard")
    assert sk.count() == 12
    est = {
        r.g: r.distinct_est
        for r in hll_rollup_estimate(sk, "g").collect()
    }
    exact = {
        r.g: r.cnt
        for r in df.groupBy("g")
        .agg(F.count_distinct("user").alias("cnt"))
        .collect()
    }
    for g in exact:
        assert abs(est[g] - exact[g]) <= 0.05 * exact[g], (g, est[g], exact[g])


def test_theta_overlap_set_algebra(spark):
    from pyspark.sql import functions as F

    from faust_spark.operators.sketch import (
        theta_overlap_estimate,
        theta_sketches,
    )

    # groups A:0..99, B:50..149, C:200..209 → |A∩B|=50, |A∩C|=0
    rows = (
        [("A", i) for i in range(100)]
        + [("B", i) for i in range(50, 150)]
        + [("C", i) for i in range(200, 210)]
    )
    df = spark.createDataFrame(rows, ["g", "user"])
    est = {
        (r.a, r.b): r
        for r in theta_overlap_estimate(
            theta_sketches(df, "user", "g"), "g"
        ).collect()
    }
    ab = est[("A", "B")]
    assert abs(ab.est_both - 50) <= 3 and abs(ab.est_a_minus_b - 50) <= 3
    ac = est[("A", "C")]
    assert ac.est_both == 0 and abs(ac.est_a - 100) <= 5


def test_kll_rollup_quantiles_within_rank_error(spark):
    import numpy as np

    from faust_spark.operators.sketch import (
        kll_rollup_quantiles,
        kll_sketches,
    )

    rng = np.random.default_rng(5)
    vals = rng.normal(size=20_000)
    # 10 shards; quantiles must come from the MERGED sketch
    rows = [(int(i % 10), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["shard", "v"])
    sk = kll_sketches(df, "v", "shard")
    assert sk.count() == 10
    out = kll_rollup_quantiles(sk, [0.5, 0.9]).collect()[0]
    for est, q in ((out.q50, 0.5), (out.q90, 0.9)):
        true_rank = float((vals <= est).mean())
        assert abs(true_rank - q) < 0.03, (q, est, true_rank)


def test_bloom_key_col_survives_odd_names(spark):
    """ADVICE r5: key_col was string-interpolated into an F.expr — a name
    needing backticks (hyphen) parsed wrong. Positions now materialize as
    aliased columns, so any column name works."""
    from faust_spark.operators.sketch import bloom_build, bloom_might_contain

    corpus = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("the-key")
    )
    bloom = bloom_build(corpus, "the-key", m_bits=1 << 14)
    probe = spark.createDataFrame(
        [("k5",), ("definitely-new",)], ["the-key"]
    )
    got = {
        r["the-key"]: r["__might_contain"]
        for r in bloom_might_contain(probe, "the-key", bloom).collect()
    }
    assert got["k5"] is True
    assert got["definitely-new"] is False


def test_cms_estimate_survives_colliding_key_columns(spark):
    """ADVICE r5: cms_estimate joined on literal d/bucket/cnt names; a
    keys table already carrying those columns broke the probe join. The
    internal __cms_ aliases make it safe."""
    from faust_spark.operators.sketch import cms_counts, cms_estimate

    data = spark.createDataFrame(
        [("a",)] * 7 + [("b",)] * 3, ["k"]
    )
    counts = cms_counts(data, "k", depth=4, width=64)
    keys = spark.createDataFrame(
        [("a", 99, 99, 99), ("b", 98, 98, 98)], ["k", "d", "bucket", "cnt"]
    )
    got = {
        r.k: r.cms_est
        for r in cms_estimate(keys, counts, "k", depth=4, width=64).collect()
    }
    # CMS never undercounts; with 2 keys and width 64 no collisions
    assert got == {"a": 7, "b": 3}


def test_materialize_strategy_knob(spark, tmp_path):
    """operators.mat: the conf knob selects localCheckpoint (default)
    or a reliable checkpoint; bad values raise."""
    import pytest as _pytest

    from faust_spark.operators.mat import materialize

    df = spark.range(10)
    assert materialize(df).count() == 10  # default local

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set("spark.faust_spark.materialize", "reliable")
    try:
        assert materialize(df, eager=True).count() == 10
        # 'persist' is no longer a strategy: every materialize cuts
        # lineage, and the error names the valid values
        for bad in ("bogus", "persist"):
            spark.conf.set("spark.faust_spark.materialize", bad)
            with _pytest.raises(ValueError, match="'local', 'reliable'"):
                materialize(df)
    finally:
        spark.conf.set("spark.faust_spark.materialize", "local")


def test_reliable_materialize_cuts_lineage(spark, tmp_path):
    """'reliable' writes the checkpoint under the SparkContext
    checkpoint dir: the rows are unchanged and the plan scans the
    checkpoint, not the source files."""
    import os

    from faust_spark.operators.mat import materialize

    src = str(tmp_path / "src")
    spark.range(20).select(
        F.col("id"), (F.col("id") % 3).alias("g")
    ).write.parquet(src)
    df = spark.read.parquet(src).filter(F.col("g") != 1)
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    spark.conf.set("spark.faust_spark.materialize", "reliable")
    try:
        cut = materialize(df, eager=True)
    finally:
        spark.conf.set("spark.faust_spark.materialize", "local")
    assert sorted(map(tuple, cut.collect())) == sorted(
        map(tuple, df.collect())
    )
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert "FileScan" not in plan and "parquet" not in plan.lower()
    # the blocks are files under the checkpoint dir, not executor memory
    assert any(
        f.startswith("part-")
        for _, _, files in os.walk(ckpt)
        for f in files
    )
