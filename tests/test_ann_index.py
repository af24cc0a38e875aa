"""On-disk ANN index artifact (r12 — VERDICT r11 item 1).

The serving split the FAISS shape requires: fit + encode offline into a
cell-partitioned parquet artifact (operators/similarity.build_ivf_index /
build_ivfpq_index), probe online reading ONLY the probed cells. Pins:

- model roundtrip + corpus fingerprint,
- row parity with the inline fit-per-call paths (the index must be
  invisible in results — same fit, same codes, same tie-breaks),
- the probe-path plan: PartitionFilters on ``cell`` at the index scan,
  broadcast query side, and ZERO shuffle of the index relation (no
  ``Exchange hashpartitioning(cell``; the only hash exchanges in the
  Final Plan are the per-qid windows),
- staleness detection: a regenerated corpus fingerprint forces rebuild.
"""

import os

import pytest
from pyspark.sql import functions as F

from faust_spark.catalog import load_table
from faust_spark.operators.similarity import (
    build_ivf_index,
    build_ivfpq_index,
    ivf_index_topk,
    ivf_topk,
    ivfpq_index_topk,
    ivfpq_topk,
    load_ann_index,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )


@pytest.fixture(scope="module")
def ivf_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("annidx") / "ivf")
    meta = build_ivf_index(emb, path, n_cells=16, iters=2)
    assert meta["kind"] == "ivf" and meta["n"] == emb.count()
    return path


@pytest.fixture(scope="module")
def ivfpq_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("annidx") / "ivfpq")
    build_ivfpq_index(emb, path, n_cells=16, m=4, ksub=16, iters=2)
    return path


@pytest.mark.slow
def test_model_roundtrip(spark, emb, ivf_path):
    meta = load_ann_index(spark, ivf_path)
    assert meta["n_cells"] == 16 and len(meta["centroids"]) == 16
    assert meta["dim"] == emb.select(F.size("embedding")).first()[0]
    # the relation on disk covers the corpus exactly once
    assigned = spark.read.parquet(os.path.join(ivf_path, "assigned"))
    assert assigned.count() == meta["n"]
    # format 2 (r13): every row carries its fingerprint crc term so
    # delete_from_ann_index can subtract exactly without the corpus
    assert set(assigned.columns) == {"nid", "cv", "cell", "crc"}


@pytest.mark.slow
def test_ivf_index_row_parity_with_inline(spark, emb, queries, ivf_path):
    served = sorted(
        (r.qid, r.nid, r.rank)
        for r in ivf_index_topk(
            spark, ivf_path, emb, queries, k=5, nprobe=4
        ).collect()
    )
    inline = sorted(
        (r.qid, r.nid, r.rank)
        for r in ivf_topk(emb, queries, k=5, n_cells=16, nprobe=4).collect()
    )
    assert served == inline


@pytest.mark.slow
def test_ivfpq_index_row_parity_with_inline(spark, emb, queries, ivfpq_path):
    n = emb.count()
    served = sorted(
        (r.qid, r.nid, r.rank)
        for r in ivfpq_index_topk(
            spark, ivfpq_path, emb, queries,
            k=5, nprobe=4, shortlist=max(50, n // 10),
        ).collect()
    )
    inline = sorted(
        (r.qid, r.nid, r.rank)
        for r in ivfpq_topk(
            emb, queries, k=5, n_cells=16, nprobe=4, m=4, ksub=16,
            shortlist=max(50, n // 10),
        ).collect()
    )
    assert served == inline


def _final_plan(df) -> str:
    """The executed Final Plan section only — toString() appends the
    pre-AQE Initial Plan below it, which double-counts every operator
    (perf-rules-of-thumb: truthful shuffle count = Final Plan only)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_ivf_probe_path_prunes_and_never_shuffles_index(
    spark, emb, queries, ivf_path
):
    df = ivf_index_topk(spark, ivf_path, emb, queries, k=5, nprobe=4)
    df.collect()
    plan = _final_plan(df)
    # partition pruning reached the index scan
    assert "PartitionFilters:" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in pf
    # the index relation is NEVER re-shuffled; the only hash exchanges
    # are the per-qid windows (query probe rank + final top-k rank)
    assert "Exchange hashpartitioning(cell" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "BroadcastHashJoin [cell" in plan


def test_ivfpq_probe_path_prunes_and_never_shuffles_index(
    spark, emb, queries, ivfpq_path
):
    df = ivfpq_index_topk(
        spark, ivfpq_path, emb, queries, k=5, nprobe=4, shortlist=50
    )
    df.collect()
    plan = _final_plan(df)
    assert "PartitionFilters:" in plan
    assert "Exchange hashpartitioning(cell" not in plan


def test_kind_mismatch_raises(spark, emb, queries, ivf_path):
    with pytest.raises(ValueError, match="not ivfpq"):
        ivfpq_index_topk(spark, ivf_path, emb, queries)


def test_stale_index_detected_and_rebuilt(spark, emb, tmp_path):
    """ADVICE r11: a regenerated corpus under the same path must not be
    served from stale models — the entry wrapper compares the stored
    fingerprint (n) against the live table and rebuilds."""
    from faust_spark.queries import pipeline

    idx_dir = str(tmp_path / "idx")
    prev = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = idx_dir
    try:
        sf_dir = "/root/testdata/sf0.001"
        path = pipeline._serve_index_path(sf_dir, "ivf")
        meta1 = pipeline._ensure_serve_index(spark, sf_dir, "ivf")
        assert meta1["n"] == emb.count()
        # simulate data regeneration: poison the stored content checksum
        # (a same-size regeneration changes crc_sum, not n) and clear
        # the process validation memo — ensure must rebuild
        fp_bad = dict(meta1["fingerprint"], crc_sum=12345)
        meta_bad = dict(meta1, n=meta1["n"] + 1, fingerprint=fp_bad)
        from faust_spark.operators import similarity as sim

        sim._write_index_models(spark, path, meta_bad)
        sim._INDEX_MODEL_CACHE.clear()
        pipeline._SERVE_INDEX_OK.discard(path)
        meta2 = pipeline._ensure_serve_index(spark, sf_dir, "ivf")
        assert meta2["n"] == emb.count()  # rebuilt, not served stale
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_INDEX_DIR", None)
        else:
            os.environ["SPARK_GRAFT_INDEX_DIR"] = prev


def test_probed_cells_large_batch_falls_back_distributed(spark, emb):
    """Query batches beyond the driver limit must not collect vectors —
    the distributed probe path returns the identical pruned-cell union
    (same tie-break), only cell ids reach the driver."""
    from faust_spark.operators.similarity import _probed_cells, ivf_fit

    cents = ivf_fit(emb, n_cells=16, iters=1)
    q = emb.select("vec_id", "embedding")
    small = _probed_cells(q, cents, 4, "embedding")  # driver path
    big = _probed_cells(q, cents, 4, "embedding", driver_limit=100)
    assert small == big and len(big) <= 16


# -- r13 (VERDICT r12 items 3/4/6, ADVICE r12) ---------------------------


def test_probed_cells_numpy_matches_sequential_ranking(spark, emb):
    """The numpy GEMM ranking must select the same cell union as the
    sequential-fold spec (the old driver loop / probe_cells_join's
    ascending-index IEEE fold with (dist, cell) tie-break)."""
    from faust_spark.operators.similarity import (
        _probed_cells,
        _rank_cells_numpy,
        ivf_fit,
    )

    cents = ivf_fit(emb, n_cells=16, iters=1)
    q = emb.select("vec_id", "embedding")
    qvs = [r["embedding"] for r in q.select("embedding").collect()]
    # sequential-fold spec, exactly the old driver loop
    spec: set[int] = set()
    for qv in qvs:
        dists = []
        for i, c in enumerate(cents):
            d = 0.0
            for a, b in zip(qv, c):
                d = d + (a - b) * (a - b)
            dists.append((d, i))
        dists.sort()
        spec.update(i for _, i in dists[:4])
    assert _rank_cells_numpy(qvs, cents, 4) == sorted(spec)
    assert _probed_cells(q, cents, 4, "embedding") == sorted(spec)


def test_probed_cells_malformed_batch_falls_back_distributed(spark, emb):
    """A NULL or wrong-dimension query vector must not crash or silently
    truncate the driver probe (ADVICE r12): the batch goes to the
    distributed probe (zip_with null-padding semantics), covering the
    same cells the engine-side probe would join."""
    from faust_spark.operators import similarity as sim

    cents = sim.ivf_fit(emb, n_cells=16, iters=1)
    good = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    bad = good.withColumn(
        "embedding",
        F.when(F.col("qid") == 0, F.lit(None).cast("array<double>"))
        .when(F.col("qid") == 1, F.slice("embedding", 1, 3))
        .otherwise(F.col("embedding")),
    )
    before = sim.INDEX_STATS["probe_fallbacks"]
    cells = sim._probed_cells(bad, cents, 4, "embedding")
    assert sim.INDEX_STATS["probe_fallbacks"] == before + 1
    # the distributed probe on the same malformed frame is the spec
    qd = bad.select(F.col("qid"), F.col("embedding").alias("qv"))
    spec = sorted(
        int(r["cell"])
        for r in sim.probe_cells_join(qd, cents, 4)
        .select("cell")
        .distinct()
        .collect()
    )
    assert cells == spec
    # the all-good subset still takes the driver path
    before_b = sim.INDEX_STATS["probe_batches"]
    sim._probed_cells(good, cents, 4, "embedding")
    assert sim.INDEX_STATS["probe_batches"] == before_b + 1
    assert sim.INDEX_STATS["probe_fallbacks"] == before + 1


@pytest.mark.slow
def test_files_per_cell_write_knob(spark, emb, queries, tmp_path):
    """files_per_cell salts the index write into up to that many files
    per cell directory (more writer tasks / reader splits for the
    multi-GB cells a 100 TB corpus produces) without changing served
    rows. Default stays exactly one file per cell."""
    import glob

    from faust_spark.operators.similarity import build_ivf_index

    p1 = str(tmp_path / "fpc1")
    p4 = str(tmp_path / "fpc4")
    build_ivf_index(emb, p1, n_cells=8, iters=1)
    build_ivf_index(emb, p4, n_cells=8, iters=1, files_per_cell=4)

    def files_by_cell(path):
        out = {}
        for d in glob.glob(os.path.join(path, "assigned", "cell=*")):
            out[os.path.basename(d)] = len(
                glob.glob(os.path.join(d, "*.parquet"))
            )
        return out

    f1, f4 = files_by_cell(p1), files_by_cell(p4)
    assert f1 and all(n == 1 for n in f1.values())
    assert f4 and all(1 <= n <= 4 for n in f4.values())
    assert sum(f4.values()) > len(f4)  # the knob actually fanned out
    served1 = sorted(
        (r.qid, r.nid, r.rank)
        for r in ivf_index_topk(spark, p1, emb, queries, k=5).collect()
    )
    served4 = sorted(
        (r.qid, r.nid, r.rank)
        for r in ivf_index_topk(spark, p4, emb, queries, k=5).collect()
    )
    assert served1 == served4
    # pruning is DIRECTORY-level, so it survives multi-file cells: the
    # salted index's serve plan still carries the cell PartitionFilters
    # and never re-shuffles the index relation
    df4 = ivf_index_topk(spark, p4, emb, queries, k=5)
    plan = _final_plan(df4)
    assert "PartitionFilters:" in plan and "cell" in plan.split(
        "PartitionFilters:"
    )[1].splitlines()[0]
    assert "Exchange hashpartitioning(cell" not in plan


def test_dfs_model_cache_invalidates_on_content_change(
    spark, emb, tmp_path, monkeypatch
):
    """When no models-file mtime is obtainable (DFS), load_ann_index must
    re-read and key by content — an externally regenerated index is
    picked up without a process restart (VERDICT r12 nit 2)."""
    from faust_spark.operators import similarity as sim

    path = str(tmp_path / "dfsidx")
    meta1 = build_ivf_index(emb, path, n_cells=8, iters=1)
    monkeypatch.setattr(sim, "_index_mtime", lambda p: None)
    assert load_ann_index(spark, path)["n_cells"] == 8
    # external regeneration at the same path, same process
    meta2 = dict(meta1, n_cells=99)
    sim._write_index_models(spark, path, meta2)
    assert load_ann_index(spark, path)["n_cells"] == 99


def test_serve_index_path_keys_by_full_path(tmp_path):
    """ADVICE r12 (medium): two sf_dirs with the same basename but
    different parents must map to DIFFERENT index directories, while
    spelling variants of the same directory map to the SAME one."""
    from faust_spark.queries.pipeline import _serve_index_path

    a = _serve_index_path("/data/a/sf0.01", "ivf")
    b = _serve_index_path("/data/b/sf0.01", "ivf")
    assert a != b
    assert os.path.basename(os.path.dirname(a)).startswith("sf0.01")
    same = _serve_index_path("/data/a/./sf0.01/", "ivf")
    assert same == a


# --------------------------------------------------------------------------
# index lifecycle (r13): append / delete / compact
# --------------------------------------------------------------------------


def _pairs(df):
    return sorted((r["qid"], r["nid"]) for r in df.select("qid", "nid").collect())


@pytest.fixture()
def evolved_ivf(spark, emb, tmp_path):
    """An IVF index built on ~90% of the corpus with the rest appended —
    the daily-ingest shape append_ann_index exists for."""
    from faust_spark.operators.similarity import append_ann_index

    path = str(tmp_path / "evolve")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    meta = build_ivf_index(base, path, n_cells=16, iters=2)
    meta = append_ann_index(
        spark, path, emb.filter(F.col("vec_id") % 10 == 3)
    )
    return path, meta


@pytest.mark.slow
def test_append_row_parity_and_exact_fingerprint(
    spark, emb, queries, evolved_ivf
):
    """Appending must be invisible in results: serving the evolved index
    row-matches the inline path over the FULL corpus with the same
    (base-fit) centroids, and the maintained fingerprint equals a direct
    corpus_fingerprint of the full table (the associative-integer-sum
    property the maintenance design rests on)."""
    from faust_spark.operators.similarity import (
        corpus_fingerprint,
        ivf_assign_corpus,
    )

    path, meta = evolved_ivf
    assert meta["fingerprint"] == corpus_fingerprint(emb)
    assert meta["n"] == emb.count()
    served = _pairs(ivf_index_topk(spark, path, emb, queries, k=5, nprobe=8))
    cents = meta["centroids"]
    inline = _pairs(
        ivf_topk(
            emb, queries, k=5, nprobe=8, centroids=cents,
            assigned=ivf_assign_corpus(emb, cents),
        )
    )
    assert served == inline


def test_append_dim_mismatch_and_empty_batch(spark, emb, evolved_ivf):
    from faust_spark.operators.similarity import append_ann_index

    path, meta = evolved_ivf
    bad = emb.select(
        "vec_id", F.slice("embedding", 1, 3).alias("embedding")
    )
    with pytest.raises(ValueError, match="dim"):
        append_ann_index(spark, path, bad)
    # empty batch: metadata untouched, no write
    meta2 = append_ann_index(
        spark, path, emb.filter(F.col("vec_id") < 0)
    )
    assert meta2["fingerprint"] == meta["fingerprint"]
    assert meta2.get("appends") == meta.get("appends")


@pytest.mark.slow
def test_delete_serves_without_victims_and_is_idempotent(
    spark, emb, queries, evolved_ivf
):
    """Tombstoned ids vanish from serving immediately (no rewrite), the
    fingerprint subtraction is exact (equals a direct fingerprint of the
    remaining corpus), and re-deleting the same ids is a no-op."""
    from faust_spark.operators.similarity import (
        corpus_fingerprint,
        delete_from_ann_index,
        ivf_assign_corpus,
        load_ann_index,
    )

    path, meta = evolved_ivf
    victims = [11, 13, 17]
    m1 = delete_from_ann_index(spark, path, victims)
    remaining = emb.filter(~F.col("vec_id").isin(victims))
    assert m1["fingerprint"] == corpus_fingerprint(remaining)
    assert m1["tombstones"] == len(victims)
    served = _pairs(ivf_index_topk(spark, path, emb, queries, k=5, nprobe=8))
    assert not any(nid in victims for _, nid in served)
    # row parity with the inline path over the remaining corpus
    cents = m1["centroids"]
    inline = _pairs(
        ivf_topk(
            remaining, queries, k=5, nprobe=8, centroids=cents,
            assigned=ivf_assign_corpus(remaining, cents),
        )
    )
    assert served == inline
    m2 = delete_from_ann_index(spark, path, victims)
    assert m2["fingerprint"] == m1["fingerprint"]
    assert m2["tombstones"] == m1["tombstones"]
    assert load_ann_index(spark, path)["tombstones"] == len(victims)


@pytest.mark.slow
def test_compact_rewrites_only_affected_cells(spark, emb, queries, evolved_ivf):
    """Compaction folds tombstones into the relation touching ONLY the
    cells that carry them: untouched cell directories keep their exact
    file set (dynamic partition overwrite), served rows are unchanged,
    and the tombstones are retired (epoch bump, count 0)."""
    from faust_spark.operators.similarity import (
        compact_ann_index,
        delete_from_ann_index,
    )

    path, meta = evolved_ivf
    relp = os.path.join(path, "assigned")
    m1 = delete_from_ann_index(spark, path, [11, 13, 17])
    tomb_cells = {
        r["cell"]
        for r in spark.read.parquet(
            os.path.join(path, "tombstones", f"e{m1['epoch']}")
        ).select("cell").distinct().collect()
    }
    before = {
        c: sorted(os.listdir(os.path.join(relp, c)))
        for c in os.listdir(relp)
        if c.startswith("cell=")
    }
    served_before = _pairs(
        ivf_index_topk(spark, path, emb, queries, k=5, nprobe=8)
    )
    m2 = compact_ann_index(spark, path)
    assert m2["tombstones"] == 0 and m2["epoch"] == m1["epoch"] + 1
    after = {
        c: sorted(os.listdir(os.path.join(relp, c)))
        for c in os.listdir(relp)
        if c.startswith("cell=")
    }
    for c in before:
        cell_id = int(c.split("=")[1])
        if cell_id not in tomb_cells:
            assert after[c] == before[c], f"untouched {c} was rewritten"
    # no tombstoned row remains on disk; serving unchanged
    assert (
        spark.read.parquet(relp)
        .filter(F.col("nid").isin([11, 13, 17]))
        .count()
        == 0
    )
    assert _pairs(
        ivf_index_topk(spark, path, emb, queries, k=5, nprobe=8)
    ) == served_before
    # second compact is a no-op
    assert compact_ann_index(spark, path)["epoch"] == m2["epoch"]


@pytest.mark.slow
def test_compact_removes_fully_emptied_cells(spark, emb, tmp_path):
    """A decoy batch whose vectors land in their own region: deleting the
    whole batch then compacting must leave ZERO decoy rows on disk even
    when a cell consisted only of decoys (local paths remove the emptied
    directory outright)."""
    from faust_spark.operators.similarity import (
        append_ann_index,
        compact_ann_index,
        corpus_fingerprint,
        delete_from_ann_index,
    )

    path = str(tmp_path / "decoyidx")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    decoys = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
        F.reverse("embedding").alias("embedding"),
    )
    append_ann_index(spark, path, decoys)
    delete_from_ann_index(spark, path, decoys.select("vec_id"))
    m = compact_ann_index(spark, path)
    assert m["tombstones"] == 0
    assert m["fingerprint"] == corpus_fingerprint(emb)
    rel = spark.read.parquet(os.path.join(path, "assigned"))
    assert rel.filter(F.col("nid") >= 1_000_000_000).count() == 0
    assert rel.count() == emb.count()


@pytest.mark.slow
def test_ivfpq_lifecycle_roundtrip(spark, emb, queries, tmp_path):
    """The same lifecycle over the compact (PQ-codes) index kind: the
    per-row fingerprint crc is carried from the ORIGINAL vectors (codes
    are lossy), so append+delete keep the fingerprint exact here too."""
    from faust_spark.operators.similarity import (
        append_ann_index,
        compact_ann_index,
        corpus_fingerprint,
        delete_from_ann_index,
    )

    path = str(tmp_path / "pqidx")
    base = emb.filter(F.col("vec_id") % 10 != 3)
    build_ivfpq_index(base, path, n_cells=16, m=4, ksub=16, iters=2)
    meta = append_ann_index(
        spark, path, emb.filter(F.col("vec_id") % 10 == 3)
    )
    assert meta["fingerprint"] == corpus_fingerprint(emb)
    meta = delete_from_ann_index(spark, path, [11, 13])
    served = _pairs(
        ivfpq_index_topk(
            spark, path, emb, queries, k=5, nprobe=8, shortlist=50
        )
    )
    assert not any(nid in (11, 13) for _, nid in served)
    meta = compact_ann_index(spark, path)
    assert meta["tombstones"] == 0
    assert meta["fingerprint"] == corpus_fingerprint(
        emb.filter(~F.col("vec_id").isin([11, 13]))
    )
    assert _pairs(
        ivfpq_index_topk(
            spark, path, emb, queries, k=5, nprobe=8, shortlist=50
        )
    ) == served


def test_lifecycle_requires_format2(spark, emb, tmp_path):
    """Pre-lifecycle (format-1) indexes carry no per-row crc, so the
    maintenance verbs must refuse them with a rebuild hint instead of
    corrupting the fingerprint."""
    from faust_spark.operators import similarity as sim

    path = str(tmp_path / "oldidx")
    meta = build_ivf_index(emb, path, n_cells=8, iters=1)
    old = dict(meta)
    old.pop("epoch"), old.pop("tombstones"), old.pop("files_per_cell")
    old["format"] = 1
    sim._write_index_models(spark, path, old)
    sim._cache_index_model(path, old)
    with pytest.raises(ValueError, match="format 1"):
        sim.append_ann_index(spark, path, emb.limit(5))
    with pytest.raises(ValueError, match="format 1"):
        sim.delete_from_ann_index(spark, path, [1])


def test_lifecycle_counters_on_metrics_page(spark, emb, tmp_path):
    """The maintenance KPIs ride the same Prometheus family as the
    serve counters (ann_index_*_total)."""
    from faust_spark.operators.similarity import (
        INDEX_STATS,
        append_ann_index,
        compact_ann_index,
        delete_from_ann_index,
    )
    from faust_spark.sensors import Monitor

    b0 = (
        INDEX_STATS["appends"],
        INDEX_STATS["deletes"],
        INDEX_STATS["compactions"],
    )
    path = str(tmp_path / "kpidx")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    append_ann_index(spark, path, emb.limit(0))  # empty: no-op, no count
    delete_from_ann_index(spark, path, [3])
    compact_ann_index(spark, path)
    assert (
        INDEX_STATS["appends"],
        INDEX_STATS["deletes"],
        INDEX_STATS["compactions"],
    ) == (b0[0], b0[1] + 1, b0[2] + 1)
    page = Monitor().render_prometheus()
    for key in ("appends", "deletes", "compactions"):
        assert f"ann_index_{key}_total" in page


@pytest.mark.slow
def test_delete_with_vectors_prunes_and_matches_id_only(
    spark, emb, queries, tmp_path
):
    """A vector-carrying takedown batch locates victims through the
    partition-pruned path (cells recomputed from the frozen quantizer,
    near-tie SUPERSET, membership still by nid join) and must land the
    IDENTICAL index state as the id-only full-scan path."""
    from faust_spark.operators.similarity import (
        INDEX_STATS,
        delete_from_ann_index,
        load_ann_index,
    )

    victims = emb.filter(F.col("vec_id").isin([11, 13, 17]))
    metas = []
    for tag, batch in (("by_id", victims.select("vec_id")),
                       ("by_vec", victims)):
        path = str(tmp_path / tag)
        build_ivf_index(emb, path, n_cells=16, iters=2)
        pruned0 = INDEX_STATS["delete_pruned"]
        delete_from_ann_index(spark, path, batch)
        assert INDEX_STATS["delete_pruned"] - pruned0 == (
            1 if tag == "by_vec" else 0
        )
        metas.append(load_ann_index(spark, path))
        served = _pairs(
            ivf_index_topk(spark, path, emb, queries, k=5, nprobe=8)
        )
        assert not any(nid in (11, 13, 17) for _, nid in served)
    a, b = metas
    assert a["fingerprint"] == b["fingerprint"]
    assert a["tombstones"] == b["tombstones"] == 3


def test_delete_malformed_vector_batch_falls_back_to_full_scan(
    spark, emb, tmp_path
):
    """A takedown batch carrying a NULL (or wrong-dim) vector cannot
    prune by cell — the probe would rank null-padded garbage and a wrong
    cell silently SKIPS that row's delete. The whole batch must take the
    full-scan locate instead, and every named id still gets deleted."""
    from faust_spark.operators.similarity import (
        INDEX_STATS,
        corpus_fingerprint,
        delete_from_ann_index,
    )

    path = str(tmp_path / "nullidx")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    batch = emb.filter(F.col("vec_id").isin([11, 13])).select(
        "vec_id",
        F.when(F.col("vec_id") == 13, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    pruned0 = INDEX_STATS["delete_pruned"]
    meta = delete_from_ann_index(spark, path, batch)
    assert INDEX_STATS["delete_pruned"] == pruned0  # full scan taken
    assert meta["tombstones"] == 2  # BOTH rows deleted, incl. the null
    assert meta["fingerprint"] == corpus_fingerprint(
        emb.filter(~F.col("vec_id").isin([11, 13]))
    )


def test_reappend_of_tombstoned_id_refused_until_compact(
    spark, emb, tmp_path
):
    """Re-appending an id while its tombstone is live would desync
    serving (nid anti-join suppresses the new row) and could let a
    later compaction remove it from disk while the fingerprint still
    counts it — append must refuse with the compact-first remedy, and
    succeed after compaction."""
    from faust_spark.operators.similarity import (
        append_ann_index,
        compact_ann_index,
        corpus_fingerprint,
        delete_from_ann_index,
    )

    path = str(tmp_path / "reapp")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    row11 = emb.filter(F.col("vec_id") == 11)
    delete_from_ann_index(spark, path, [11])
    with pytest.raises(ValueError, match="tombstoned in"):
        append_ann_index(spark, path, row11)
    compact_ann_index(spark, path)
    meta = append_ann_index(spark, path, row11)
    assert meta["fingerprint"] == corpus_fingerprint(emb)  # back to full


def test_append_rejects_null_and_wrong_dim_rows(spark, emb, tmp_path):
    """corpus_fingerprint's dim is only the FIRST non-null row's — a
    malformed row later in the batch must be refused at append (it
    would land in a garbage cell with a null crc and crash the
    eventual delete's subtraction)."""
    from faust_spark.operators.similarity import append_ann_index

    path = str(tmp_path / "valid8")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    null_tail = emb.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 500).alias("vec_id"),
        F.when(F.col("vec_id") == 2, F.lit(None)).otherwise(
            F.col("embedding")
        ).alias("embedding"),
    )
    with pytest.raises(ValueError, match="NULL"):
        append_ann_index(spark, path, null_tail)


def test_delete_with_stale_vector_escalates_to_full_scan(
    spark, emb, tmp_path
):
    """A takedown batch whose vector DIFFERS from the indexed one (a
    pipeline that re-embeds) quantizes to the wrong cell — the pruned
    locate misses, and the escalation must re-check those ids against
    the full scan so the takedown still lands exactly."""
    from faust_spark.operators.similarity import (
        corpus_fingerprint,
        delete_from_ann_index,
    )

    path = str(tmp_path / "stalevec")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    stale = emb.filter(F.col("vec_id") == 11).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    meta = delete_from_ann_index(spark, path, stale)
    assert meta["tombstones"] == 1
    assert meta["fingerprint"] == corpus_fingerprint(
        emb.filter(F.col("vec_id") != 11)
    )


def test_compact_under_reliable_materialize_strategy(spark, emb, tmp_path):
    """The compact rewrite cuts lineage under the 'reliable' strategy
    too: the overwrite must not read from the path it rewrites."""
    from faust_spark.operators.similarity import (
        compact_ann_index,
        corpus_fingerprint,
        delete_from_ann_index,
    )

    key = "spark.faust_spark.materialize"
    old = spark.conf.get(key, None)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(key, "reliable")
    try:
        path = str(tmp_path / "reliableidx")
        build_ivf_index(emb, path, n_cells=8, iters=1)
        delete_from_ann_index(spark, path, [11, 13])
        meta = compact_ann_index(spark, path)
        assert meta["tombstones"] == 0
        rel = spark.read.parquet(os.path.join(path, "assigned"))
        assert rel.filter(F.col("nid").isin([11, 13])).count() == 0
        assert meta["fingerprint"] == corpus_fingerprint(
            emb.filter(~F.col("vec_id").isin([11, 13]))
        )
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_model_cache_bounded_to_one_entry_per_path(spark, emb, tmp_path):
    """Every lifecycle verb rewrites models; the cache must evict the
    path's prior generations or a long-lived maintainer leaks one
    model-sized meta per operation."""
    from faust_spark.operators import similarity as sim

    path = str(tmp_path / "cachedix")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    sim.append_ann_index(
        spark, path,
        emb.filter(F.col("vec_id") < 3).select(
            (F.col("vec_id") + 600).alias("vec_id"), "embedding"
        ),
    )
    sim.delete_from_ann_index(spark, path, [601])
    sim.compact_ann_index(spark, path)
    assert len([k for k in sim._INDEX_MODEL_CACHE if k[0] == path]) == 1


def test_delete_locate_does_not_count_serve_probe_stats(
    spark, emb, tmp_path
):
    """Maintenance traffic must stay out of the serve-path probe KPIs
    (probe_batches/probe_cells/probe_fallbacks are documented as serve
    counters on the Prometheus page)."""
    from faust_spark.operators.similarity import (
        INDEX_STATS,
        delete_from_ann_index,
    )

    path = str(tmp_path / "statsidx")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    before = (
        INDEX_STATS["probe_batches"],
        INDEX_STATS["probe_cells"],
        INDEX_STATS["probe_fallbacks"],
    )
    delete_from_ann_index(
        spark, path, emb.filter(F.col("vec_id").isin([11, 13]))
    )
    assert (
        INDEX_STATS["probe_batches"],
        INDEX_STATS["probe_cells"],
        INDEX_STATS["probe_fallbacks"],
    ) == before


def test_repeated_delete_compiles_no_generated_class(spark, emb, tmp_path):
    """A delete's emptiness probes must not put a limit into a codegen
    stage: Spark names a limit's counter from a JVM-global sequence, so
    such a stage compiles new classes on every call."""
    from faust_spark.operators.similarity import delete_from_ann_index

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    path = str(tmp_path / "cgidx")
    build_ivf_index(emb, path, n_cells=8, iters=1)
    batch = emb.filter(F.col("vec_id").isin([11, 13]))
    for _ in range(2):  # the second call sees the tombstones, as the third
        delete_from_ann_index(spark, path, batch)
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    delete_from_ann_index(spark, path, batch)
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_cli_index_delete_empty_ids_is_usage_error(tmp_path, capsys):
    from faust_spark.__main__ import main as cli_main

    assert cli_main(
        ["index", "delete", str(tmp_path / "x"), "--ids", ""]
    ) == 2
    assert cli_main(
        ["index", "delete", str(tmp_path / "x"), "--ids", "1,foo"]
    ) == 2
