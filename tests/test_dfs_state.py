"""Streaming sketch state on the DFS (streaming/dfs_state.py): ever-seen
Bloom dedup, CMS accumulation and banded near-duplicate claims — state as
parquet relations written by executors, never a driver array.

Contracts: cross-batch suppression, no false negatives, replay
idempotence (screen/accumulate against versions strictly below the
batch id), compaction preserves the merged state bit-for-bit, a fresh
process ("driver loss") resumes from the state directory alone, every
``shards`` setting equals the one-shot batch sketch, and a state dir
used with another shard count raises."""

import pytest
from pyspark.sql import functions as F

from faust_spark.streaming.dfs_state import (
    bloom_dedup_dfs_sink,
    bloom_state_words,
    cms_dfs_sink,
    cms_state_cells,
)


def _df(spark, ids):
    return spark.createDataFrame([(str(i),) for i in ids], ["k"])


@pytest.mark.slow
def test_cross_batch_duplicates_suppressed_dfs(spark, tmp_path):
    seen: list[tuple[int, set]] = []

    def sink(df, bid):
        seen.append((bid, {r.k for r in df.collect()}))

    wrapped = bloom_dedup_dfs_sink(
        sink, "k", str(tmp_path / "state"), m_bits=1 << 14
    )
    wrapped(_df(spark, [1, 2, 3, 3]), 0)
    wrapped(_df(spark, [2, 3, 4]), 1)
    wrapped(_df(spark, [1, 4, 5]), 2)
    assert seen[0] == (0, {"1", "2", "3"})
    assert seen[1] == (1, {"4"})
    assert seen[2] == (2, {"5"})


@pytest.mark.slow
def test_replay_screens_against_pre_batch_state_dfs(spark, tmp_path):
    out: list[tuple[int, set]] = []

    def sink(df, bid):
        out.append((bid, {r.k for r in df.collect()}))

    state = str(tmp_path / "state")
    wrapped = bloom_dedup_dfs_sink(sink, "k", state, m_bits=1 << 14)
    wrapped(_df(spark, [1, 2]), 0)
    wrapped(_df(spark, [2, 3]), 1)   # emits {3}, writes delta_v1
    wrapped(_df(spark, [2, 3]), 1)   # replay: same survivors
    assert out == [(0, {"1", "2"}), (1, {"3"}), (1, {"3"})]
    wrapped(_df(spark, [3, 9]), 2)
    assert out[-1] == (2, {"9"})


@pytest.mark.slow
def test_compaction_preserves_state_and_prunes(spark, tmp_path):
    """Bloom OR-merge is shard-local: after compaction the merged word
    relation is identical, screening behavior unchanged, and superseded
    delta dirs are gone."""
    emitted: set = set()

    def sink(df, bid):
        emitted.update(r.k for r in df.collect())

    state_dir = tmp_path / "state"
    wrapped = bloom_dedup_dfs_sink(
        sink, "k", str(state_dir), m_bits=1 << 12, compact_every=3
    )
    for b in range(7):  # compactions fire at b=3 and b=6
        wrapped(_df(spark, [b, b + 100]), b)
    # every key emitted exactly once
    want = {str(b) for b in range(7)} | {str(b + 100) for b in range(7)}
    assert emitted == want
    names = sorted(p.name for p in state_dir.iterdir())
    assert "base_s0_v5" in names        # b=6 folded deltas 0..5
    assert not any(n.startswith("delta_v") and int(n[7:]) <= 5
                   for n in names)
    # post-compaction duplicates are still recognized
    wrapped(_df(spark, [0, 104, 999]), 7)
    assert emitted == want | {"999"}


@pytest.mark.slow
def test_driver_loss_resumes_from_state_dir(spark, tmp_path):
    """Simulated driver loss: a brand-new sink instance (no shared
    Python state) continues suppression from the DFS dir alone."""
    a_out: set = set()
    state = str(tmp_path / "ckpt" / "bloom_state")  # under the ckpt root

    s1 = bloom_dedup_dfs_sink(
        lambda df, b: a_out.update(r.k for r in df.collect()),
        "k", state, m_bits=1 << 14,
    )
    s1(_df(spark, [1, 2, 3]), 0)
    s1(_df(spark, [4, 5]), 1)
    del s1  # driver gone

    b_out: set = set()
    s2 = bloom_dedup_dfs_sink(
        lambda df, b: b_out.update(r.k for r in df.collect()),
        "k", state, m_bits=1 << 14,
    )
    s2(_df(spark, [2, 4, 6]), 2)
    assert b_out == {"6"}


def test_no_false_negatives_and_bounded_fp(spark, tmp_path):
    """Every true duplicate is dropped (bloom guarantees no false
    negatives); false positives stay near the design rate."""
    emitted: set = set()

    def sink(df, bid):
        emitted.update(r.k for r in df.collect())

    # m=2^16 bits, n=2000 keys, k=4 → fp ≈ 0.3%
    wrapped = bloom_dedup_dfs_sink(
        sink, "k", str(tmp_path / "state"), m_bits=1 << 16
    )
    wrapped(_df(spark, range(0, 1000)), 0)
    wrapped(_df(spark, range(0, 1000)), 1)  # pure replay content: all dups
    assert emitted == {str(i) for i in range(1000)}  # nothing re-emitted
    wrapped(_df(spark, range(1000, 2000)), 2)
    new = {str(i) for i in range(1000, 2000)}
    dropped_fp = new - emitted
    assert len(dropped_fp) < 50  # ~0.3% design point, assert < 5%


def test_dfs_state_equals_batch_bloom_build(spark, tmp_path):
    """The (w, bits) state relation OR-folds to exactly the bitmap the
    batch ``bloom_build`` builds from the same keys — also when the
    session sets dynamic partition overwrite, which must not change how
    a delta commits."""
    from faust_spark.operators.sketch import bloom_build

    keys = _df(spark, range(200))
    wrapped = bloom_dedup_dfs_sink(
        lambda df, b: None, "k", str(tmp_path / "s"), m_bits=1 << 12
    )
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        wrapped(keys, 0)
    finally:
        spark.conf.set(key, prev)
    words = {
        r.w: r.bits
        for r in bloom_state_words(spark, str(tmp_path / "s")).collect()
    }
    arr = bloom_build(keys, "k", m_bits=1 << 12)
    want = {i: v for i, v in enumerate(arr) if v}
    assert words == want


def test_streaming_cms_dfs_equals_batch_sketch(spark, tmp_path):
    """CMS linearity through the DFS deltas: accumulation equals the
    one-shot sketch for any split, replays don't double-count, and
    compaction preserves every cell."""
    from faust_spark.operators.sketch import cms_counts

    rows = [(f"k{i % 17}",) for i in range(500)]
    df = spark.createDataFrame(rows, ["k"])
    state = str(tmp_path / "cms")
    sink = cms_dfs_sink("k", state, depth=3, width=128, compact_every=2)
    chunks = [rows[:150], rows[150:300], rows[300:]]
    for b, ch in enumerate(chunks):
        sink(spark.createDataFrame(ch, ["k"]), b)
    sink(spark.createDataFrame(chunks[-1], ["k"]), 2)  # replay last batch
    got = {
        (r.d, r.bucket): r.cnt
        for r in cms_state_cells(spark, state).collect()
        if r.cnt
    }
    want = {
        (r.d, r.bucket): r.cnt
        for r in cms_counts(df, "k", 3, 128).collect()
        if r.cnt
    }
    assert got == want


def test_bloom_state_never_collects_to_driver(spark, tmp_path):
    """Driver-memory-flat structural guarantee: processing a batch runs
    zero DataFrame.collect() inside the sink (the state is joined, not
    materialized) — only the caller's own sink callback may collect."""
    import faust_spark.streaming.dfs_state as mod
    from unittest import mock

    calls = []
    orig = mod.DataFrame.collect

    def spy(self):
        calls.append(1)
        return orig(self)

    wrapped = bloom_dedup_dfs_sink(
        lambda df, b: None, "k", str(tmp_path / "s2"), m_bits=1 << 12
    )
    with mock.patch.object(mod.DataFrame, "collect", spy):
        wrapped(_df(spark, range(50)), 0)
        wrapped(_df(spark, range(25, 75)), 1)
    assert calls == []


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _lsh_oracle(spark, all_rows):
    """Batch NOT-EXISTS predicate: doc survives iff no lower-id doc
    shares a MinHash band — computed with the same band primitives."""
    from faust_spark.operators.dedup import lsh_bands, minhash_signatures

    bands = lsh_bands(minhash_signatures(_docs(spark, all_rows)))
    b = {(r.doc_id, r.band, r.band_sig) for r in bands.collect()}
    out = set()
    for d, _t in all_rows:
        mine = {(bb, s) for (dd, bb, s) in b if dd == d}
        if not any(
            (bb, s) in mine for (dd, bb, s) in b if dd < d
        ):
            out.add(d)
    return out


@pytest.mark.slow
def test_lsh_dedup_cross_batch_near_dups_suppressed(spark, tmp_path):
    from faust_spark.streaming.dfs_state import lsh_dedup_dfs_sink

    base = (
        "the quick brown fox jumps over the lazy dog near the old barn "
        "door while the cat sleeps in the warm afternoon sun"
    )
    other = (
        "spark structured streaming state stores watermarks checkpoints "
        "and exactly once sinks for large scale event pipelines"
    )
    b0 = [(0, base), (1, other), (2, base)]           # 2 dups 0 in-batch
    b1 = [(10, base), (11, "tiny"), (12, other + " x")]  # 10 dups 0 cross
    b2 = [(20, base + " extra"), (21, "unrelated words entirely here")]
    emitted: list[tuple[int, set]] = []

    def sink(df, bid):
        emitted.append((bid, {r.doc_id for r in df.collect()}))

    wrapped = lsh_dedup_dfs_sink(sink, str(tmp_path / "state"))
    for bid, rows in enumerate((b0, b1, b2)):
        wrapped(_docs(spark, rows), bid)
    got = set().union(*(s for _, s in emitted))
    assert got == _lsh_oracle(spark, b0 + b1 + b2)
    assert 11 in got          # shingle-less doc passes through
    assert 2 not in got and 10 not in got  # in-batch and cross-batch dup


@pytest.mark.slow
def test_lsh_dedup_replay_is_idempotent(spark, tmp_path):
    from faust_spark.streaming.dfs_state import lsh_dedup_dfs_sink

    doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    out: list[tuple[int, set]] = []

    def sink(df, bid):
        out.append((bid, {r.doc_id for r in df.collect()}))

    wrapped = lsh_dedup_dfs_sink(sink, str(tmp_path / "state"))
    wrapped(_docs(spark, [(0, doc), (1, "other words here now")]), 0)
    wrapped(_docs(spark, [(5, doc), (6, "more different text")]), 1)
    first = out[-1]
    wrapped(_docs(spark, [(5, doc), (6, "more different text")]), 1)
    assert out[-1] == first   # replay of batch 1 → byte-identical output
    assert first[1] == {6}    # 5 suppressed by 0 from batch 0's state


@pytest.mark.slow
def test_lsh_dedup_ordering_contract_violation_raises(spark, tmp_path):
    """ADVICE r8: the sink's oracle equivalence needs nondecreasing ids
    across batches; a violating batch must fail loudly (running-max
    watermark rides the delta files), not silently diverge."""
    import pytest

    from faust_spark.streaming.dfs_state import (
        lsh_dedup_dfs_sink,
        lsh_id_watermark,
    )

    doc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    wrapped = lsh_dedup_dfs_sink(lambda df, bid: None, str(tmp_path / "s"))
    wrapped(_docs(spark, [(10, doc), (11, "other words here now")]), 0)
    assert lsh_id_watermark(spark, str(tmp_path / "s")) == 11
    with pytest.raises(ValueError, match="ordering contract"):
        wrapped(_docs(spark, [(5, "late low id arrives")]), 1)
    # a conforming batch still advances the watermark
    wrapped(_docs(spark, [(20, "new words entirely here")]), 2)
    assert lsh_id_watermark(spark, str(tmp_path / "s")) == 20


@pytest.mark.slow
def test_lsh_dedup_watermark_survives_compaction(spark, tmp_path):
    """The sentinel bucket folds through the shard fold's MIN merge: after
    a compaction boundary the watermark still reports the running max
    and document claims are unchanged (sentinel filtered from
    lsh_bucket_state)."""
    from faust_spark.streaming.dfs_state import (
        lsh_bucket_state,
        lsh_dedup_dfs_sink,
        lsh_id_watermark,
    )

    wrapped = lsh_dedup_dfs_sink(
        lambda df, bid: None, str(tmp_path / "s"), compact_every=2
    )
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet colors of light",
        "north south east west compass points guide the old sailors",
    ]
    for bid, (i, t) in enumerate(zip((3, 7, 9, 12), texts)):
        wrapped(_docs(spark, [(i, t)]), bid)  # bid=2 triggers compaction
    assert lsh_id_watermark(spark, str(tmp_path / "s")) == 12
    claims = lsh_bucket_state(spark, str(tmp_path / "s"))
    assert claims.filter(F.col("band") < 0).count() == 0
    assert {r.min_id for r in claims.collect()} == {3, 7, 9, 12}


@pytest.mark.slow
def test_sharded_bloom_equals_unsharded(spark, tmp_path):
    """shards=4 (DEPLOYMENT's 100x compaction knob): same emitted
    survivors per batch and the SAME merged word relation as shards=1,
    across a run with multiple staggered compactions — and both equal
    the batch ``bloom_build`` of every key the run saw."""
    from faust_spark.operators.sketch import bloom_build
    from faust_spark.streaming.dfs_state import (
        bloom_dedup_dfs_sink,
        bloom_state_words,
    )

    flat_out, shard_out = [], []
    flat = bloom_dedup_dfs_sink(
        lambda df, b: flat_out.append((b, {r.k for r in df.collect()})),
        "k", str(tmp_path / "flat"), m_bits=1 << 12, compact_every=4,
    )
    shrd = bloom_dedup_dfs_sink(
        lambda df, b: shard_out.append((b, {r.k for r in df.collect()})),
        "k", str(tmp_path / "shrd"), m_bits=1 << 12, compact_every=4,
        shards=4,
    )
    seen = []
    for b in range(13):  # staggered folds at 1,2,3,4,5,6,7,8,...
        seen += [b, b + 1, b + 500]
        batch = _df(spark, [b, b + 1, b + 500])
        flat(batch, b)
        shrd(batch, b)
    assert flat_out == shard_out
    fw = {r.w: r.bits for r in
          bloom_state_words(spark, str(tmp_path / "flat")).collect()}
    sw = {r.w: r.bits for r in
          bloom_state_words(spark, str(tmp_path / "shrd"),
                            shards=4).collect()}
    arr = bloom_build(_df(spark, seen), "k", m_bits=1 << 12)
    assert fw == sw == {i: v for i, v in enumerate(arr) if v}


@pytest.mark.slow
def test_sharded_bloom_staggered_bases_and_pruning(spark, tmp_path):
    """Each shard keeps its OWN base (staggered versions), and a delta
    dir dies only once every shard's base has passed it."""
    from faust_spark.streaming.dfs_state import bloom_dedup_dfs_sink

    state_dir = tmp_path / "s"
    per_batch: list[tuple[int, set]] = []
    wrapped = bloom_dedup_dfs_sink(
        lambda df, b: per_batch.append((b, {r.k for r in df.collect()})),
        "k", str(state_dir), m_bits=1 << 12, compact_every=4, shards=2,
    )
    for b in range(10):  # shard 0 folds at 4,8; shard 1 at 2,6
        wrapped(_df(spark, [b, b + 500]), b)
    names = sorted(p.name for p in state_dir.iterdir())
    s0 = [n for n in names if n.startswith("base_s0_v")]
    s1 = [n for n in names if n.startswith("base_s1_v")]
    assert s0 == ["base_s0_v7"] and s1 == ["base_s1_v5"]
    # deltas <= min(7, 5) = 5 are covered by BOTH bases and pruned;
    # deltas 6,7 still pinned by shard 1 (its base stops at 5)
    live_deltas = sorted(
        int(n[7:]) for n in names if n.startswith("delta_v")
    )
    assert live_deltas == [6, 7, 8, 9]
    # post-pruning suppression: batch 10 replays keys whose ONLY claim
    # now lives inside the folded bases ('0' via base_s*, '505' too) —
    # they must be screened out, and only the fresh key survives
    wrapped(_df(spark, [0, 3, 505, 999]), 10)
    assert per_batch[-1] == (10, {"999"})


def test_sharded_bloom_rejects_bad_shards(spark, tmp_path):
    from faust_spark.streaming.dfs_state import (
        bloom_dedup_dfs_sink,
        cms_dfs_sink,
        lsh_dedup_dfs_sink,
    )

    import pytest

    for bad in (0, -1, 9):
        with pytest.raises(ValueError, match="shards"):
            bloom_dedup_dfs_sink(
                lambda df, b: None, "k", str(tmp_path / "x"),
                compact_every=8, shards=bad,
            )
    x = str(tmp_path / "x")
    for make in (
        lambda: bloom_dedup_dfs_sink(lambda df, b: None, "k", x,
                                     compact_every=0),
        lambda: cms_dfs_sink("k", x, compact_every=0),
        lambda: lsh_dedup_dfs_sink(lambda df, b: None, x, compact_every=0),
    ):
        with pytest.raises(ValueError, match="compact_every must be >= 1"):
            make()


@pytest.mark.slow
def test_sharded_lsh_equals_unsharded(spark, tmp_path):
    """shards=2 LSH: identical emitted survivors, bucket state, and id
    watermark as shards=1 across staggered compactions — the sentinel
    rides its hash shard and survives per-shard folds — and the claims
    equal the batch min id per (band, band_sig) over every doc."""
    from faust_spark.operators.dedup import lsh_bands, minhash_signatures
    from faust_spark.streaming.dfs_state import (
        lsh_bucket_state,
        lsh_dedup_dfs_sink,
        lsh_id_watermark,
    )

    base = (
        "the quick brown fox jumps over the lazy dog near the old barn "
        "door while the cat sleeps in the warm afternoon sun"
    )
    texts = [
        base,
        "spark structured streaming state stores watermarks checkpoints "
        "and exactly once sinks for large scale event pipelines",
        "red orange yellow green blue indigo violet colors of light "
        "bend through falling rain to paint the evening sky arc",
        base + " extra tail words",
    ]
    flat_out, shard_out = [], []
    flat = lsh_dedup_dfs_sink(
        lambda df, b: flat_out.append((b, {r.doc_id for r in df.collect()})),
        str(tmp_path / "flat"), compact_every=3,
    )
    shrd = lsh_dedup_dfs_sink(
        lambda df, b: shard_out.append((b, {r.doc_id for r in df.collect()})),
        str(tmp_path / "shrd"), compact_every=3, shards=2,
    )
    seen = []
    for b in range(8):  # staggered folds at 1,3,4,6,7 (shards=2, ce=3)
        rows = [(b * 10 + i, texts[(b + i) % len(texts)]) for i in range(3)]
        seen += rows
        flat(_docs(spark, rows), b)
        shrd(_docs(spark, rows), b)
    assert flat_out == shard_out
    fc = {(r.band, r.band_sig, r.min_id) for r in
          lsh_bucket_state(spark, str(tmp_path / "flat")).collect()}
    sc = {(r.band, r.band_sig, r.min_id) for r in
          lsh_bucket_state(spark, str(tmp_path / "shrd"),
                           shards=2).collect()}
    want = {
        (r.band, r.band_sig, r.min_id)
        for r in lsh_bands(minhash_signatures(_docs(spark, seen)))
        .groupBy("band", "band_sig")
        .agg(F.min("doc_id").alias("min_id"))
        .collect()
    }
    assert fc == sc == want
    assert (
        lsh_id_watermark(spark, str(tmp_path / "flat"))
        == lsh_id_watermark(spark, str(tmp_path / "shrd"), shards=2)
        == 72
    )
    # both shards grew bases and stale deltas were pruned
    names = sorted(p.name for p in (tmp_path / "shrd").iterdir())
    assert any(n.startswith("base_s0_v") for n in names)
    assert any(n.startswith("base_s1_v") for n in names)
    assert "delta_v0" not in names


@pytest.mark.slow
def test_sharded_cms_equals_unsharded(spark, tmp_path):
    """shards=4 CMS: the accumulated sketch relation is identical to
    shards=1 across staggered compactions (SUM is the shard-local
    merge; cells hash-shard on the merge key), and both equal the
    one-shot ``cms_counts`` of every batch's keys."""
    from faust_spark.operators.sketch import cms_counts
    from faust_spark.streaming.dfs_state import cms_dfs_sink, cms_state_cells

    flat = cms_dfs_sink("k", str(tmp_path / "flat"), width=64,
                        compact_every=4)
    shrd = cms_dfs_sink("k", str(tmp_path / "shrd"), width=64,
                        compact_every=4, shards=4)
    seen = []
    for b in range(11):
        seen += [b % 5, b % 7, b % 3, 42]
        batch = _df(spark, [b % 5, b % 7, b % 3, 42])
        flat(batch, b)
        shrd(batch, b)
    fc = {(r.d, r.bucket): r.cnt for r in
          cms_state_cells(spark, str(tmp_path / "flat")).collect()}
    sc = {(r.d, r.bucket): r.cnt for r in
          cms_state_cells(spark, str(tmp_path / "shrd"),
                          shards=4).collect()}
    want = {(r.d, r.bucket): r.cnt for r in
            cms_counts(_df(spark, seen), "k", 4, 64).collect()}
    assert fc == sc == want
    names = sorted(p.name for p in (tmp_path / "shrd").iterdir())
    assert any(n.startswith("base_s") for n in names)


@pytest.mark.slow
def test_layout_mismatch_reads_fail_loudly(spark, tmp_path):
    """A state dir used with another shards= than it was written with —
    read or extended, 1 vs N included — must raise, not silently return
    state missing everything folded into the other layout's bases; so
    must a dir in the old unsharded layout (no recorded shard count)."""
    import pytest

    from faust_spark.streaming.dfs_state import (
        bloom_dedup_dfs_sink,
        bloom_state_words,
    )

    shrd = bloom_dedup_dfs_sink(
        lambda df, b: df.count(), "k", str(tmp_path / "s"),
        m_bits=1 << 12, compact_every=2, shards=2,
    )
    for b in range(4):  # folds at 1 (shard 1) and 2 (shard 0)
        shrd(_df(spark, [b]), b)
    for wrong in (1, 3):
        with pytest.raises(ValueError, match="written with shards=2"):
            bloom_state_words(spark, str(tmp_path / "s"), shards=wrong)
    before = sorted(p.name for p in (tmp_path / "s").iterdir())
    extend = bloom_dedup_dfs_sink(
        lambda df, b: df.count(), "k", str(tmp_path / "s"),
        m_bits=1 << 12, compact_every=2,
    )
    with pytest.raises(ValueError, match="written with shards=2"):
        extend(_df(spark, [9]), 4)
    assert sorted(p.name for p in (tmp_path / "s").iterdir()) == before
    flat = bloom_dedup_dfs_sink(
        lambda df, b: df.count(), "k", str(tmp_path / "f"),
        m_bits=1 << 12, compact_every=2,
    )
    for b in range(3):
        flat(_df(spark, [b]), b)
    with pytest.raises(ValueError, match="written with shards=1"):
        bloom_state_words(spark, str(tmp_path / "f"), shards=2)
    # the old unsharded layout: base_v<id> plus plain deltas, no record
    old = tmp_path / "old"
    for name in ("base_v1", "delta_v2"):
        (old / name).mkdir(parents=True)
        (old / name / "_SUCCESS").touch()
    with pytest.raises(ValueError, match="no recorded shard count"):
        bloom_state_words(spark, str(old))


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )


@pytest.mark.slow
def test_embedding_dedup_matches_batch_not_exists(spark, tmp_path):
    """embedding_dedup_dfs_sink across micro-batches equals the batch
    NOT-EXISTS predicate over the same hyperplane signatures — exact
    duplicate vectors are suppressed cross-batch, distinct directions
    survive, and batch boundaries don't change the answer."""
    import numpy as np

    from faust_spark.operators.similarity import _deterministic_planes
    from faust_spark.streaming.dfs_state import embedding_dedup_dfs_sink

    rng = np.random.RandomState(11)
    base = rng.randn(10, 8).astype(np.float32)
    rows = []
    for i in range(10):
        rows.append((i, [float(v) for v in base[i]]))
    # exact twins of vectors 0..4 with higher ids (cross-batch dups)
    for j in range(5):
        rows.append((20 + j, [float(v) for v in base[j]]))
    n_tables, n_planes, dim = 2, 8, 8

    # brute-force oracle over the same signatures
    sigs = {}
    for vid, v in rows:
        key = []
        for t in range(n_tables):
            planes = _deterministic_planes(n_planes, dim, seed=t + 1)
            bits = "".join(
                "1" if float(np.dot(np.float64(v), np.float64(p))) >= 0
                else "0"
                for p in planes
            )
            key.append((t, bits))
        sigs[vid] = key
    want = {
        vid
        for vid, key in sigs.items()
        if not any(
            set(key) & set(okey)
            for ovid, okey in sigs.items()
            if ovid < vid
        )
    }

    emitted: list[tuple[int, set]] = []
    wrapped = embedding_dedup_dfs_sink(
        lambda df, b: emitted.append(
            (b, {int(r.vec_id) for r in df.collect()})
        ),
        str(tmp_path / "s"),
        n_tables=n_tables,
        n_planes=n_planes,
        dim=dim,
        compact_every=2,
    )
    batches = [rows[:6], rows[6:10], rows[10:]]
    for b, rs in enumerate(batches):
        wrapped(_vecs(spark, rs), b)
    got = set().union(*(s for _, s in emitted))
    assert got == want
    assert all(20 + j not in got for j in range(5))  # twins suppressed
    assert emitted[0][1] >= {0}  # the first vector always survives
