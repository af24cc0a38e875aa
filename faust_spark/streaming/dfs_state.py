"""Streaming sketch state on the DFS: ever-seen Bloom dedup, count-min
accumulation and banded near-duplicate claims whose state NEVER lands
on the driver.

The reference keeps durable keyed state in a changelogged table ("a
table for deduplication"); here that table is a sketch kept as parquet
relations under a caller-chosen directory next to the streaming
checkpoint (same durability domain):

- **State is a parquet relation, not an array.** Bloom state is
  (w, bits) words, CMS state (d, bucket, cnt) cells, LSH state
  (band, band_sig, min_id) bucket claims — written by executors with
  ordinary distributed parquet writes: no ``collect()``, no driver
  array, driver memory flat in the key cardinality.
- **One layout, ``shards`` key ranges.** The key space splits into
  ``shards`` ranges (Bloom: contiguous word ranges; CMS/LSH: hash of
  the merge key); ``shards=1`` is the coarsest setting of the same
  layout. Each batch writes only its own aggregated updates,
  hive-partitioned by range (``delta_v<batch_id>/shard=<s>``); each
  range keeps its own base (``base_s<s>_v<maxv>``) and folds its
  deltas into a new one on a staggered schedule (shard ``s`` at
  batches ``≡ s·compact_every/shards (mod compact_every)``). Each
  sketch's merge (Bloom OR, CMS sum, LSH min) is defined once and is
  range-local and associative, so folding commutes with replay.
- **The shard count is recorded.** The first batch writes an empty
  ``_shards_<N>`` file; every later read or write with another count —
  or of a dir holding state but no record — raises instead of returning
  state missing everything folded into the other layout's bases.
- **Replay-idempotent by construction.** Batch ``b`` reads ONLY
  versions strictly below ``b``; its own delta is written after the
  caller's sink ran, with an idempotent overwrite (the delta is a
  deterministic function of the batch data). Spark's at-least-once
  replay of the last uncommitted batch therefore sees the exact
  pre-batch state and reproduces byte-identical output.
- **Directory validity = ``_SUCCESS``.** A crash mid-write leaves a dir
  without the marker; readers skip it and the replay rewrites it.

All paths go through the Hadoop FileSystem API (scheme-portable:
``file:``, ``hdfs:``, ``s3a:``…), never ``os`` — this is what "under
the checkpoint DFS path" means operationally.
"""

from __future__ import annotations

import re
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------
# Hadoop FS helpers (scheme-portable listing/cleanup)
# ---------------------------------------------------------------------

_VERSION = re.compile(r"(base_s\d+|delta)_v(\d+)$")
_SHARDS_RECORD = re.compile(r"_shards_(\d+)$")


def _fs(spark: SparkSession, dir_: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(dir_)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path, jvm


def _names(spark: SparkSession, dir_: str) -> list[str]:
    fs, path, _ = _fs(spark, dir_)
    if not fs.exists(path):
        return []
    return [st.getPath().getName() for st in fs.listStatus(path)]


def _committed(spark: SparkSession, state_dir: str) -> dict[str, list[int]]:
    """Committed (``_SUCCESS``-marked) versions by prefix (``base_s<s>``
    or ``delta``), ascending."""
    fs, _, jvm = _fs(spark, state_dir)
    out: dict[str, list[int]] = {}
    for name in _names(spark, state_dir):
        m = _VERSION.match(name)
        if m and fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{state_dir}/{name}/_SUCCESS")
        ):
            out.setdefault(m.group(1), []).append(int(m.group(2)))
    return {k: sorted(v) for k, v in out.items()}


def _rm(spark: SparkSession, dir_: str) -> None:
    fs, path, _ = _fs(spark, dir_)
    if fs.exists(path):
        fs.delete(path, True)


# ---------------------------------------------------------------------
# the sharded layout: read, fold, prune, write
# ---------------------------------------------------------------------


def _check_schedule(compact_every: int, shards: int) -> None:
    if compact_every < 1:
        raise ValueError(f"compact_every must be >= 1; got {compact_every}")
    if shards < 1 or shards > compact_every:
        # more shards than compaction slots would leave ranges that
        # NEVER compact (offsets collide past compact_every)
        raise ValueError(
            f"shards must be in [1, compact_every]; got {shards}"
        )


def _check_layout(
    spark: SparkSession, state_dir: str, shards: int, record: bool = False
) -> None:
    """Fail loudly when ``shards`` differs from the count the state dir
    was written with. Reading through a mismatch would SILENTLY drop
    every key already folded into the other count's bases (the deltas
    those bases superseded are pruned), returning plausible-but-
    incomplete state — the worst failure mode a dedup screen can have.
    A dir holding state but no recorded count (a layout older than the
    record) raises for the same reason. ``record``: the sink's first
    batch writes the record before any state."""
    names = _names(spark, state_dir)
    recorded = [int(m.group(1)) for m in map(_SHARDS_RECORD.match, names) if m]
    if recorded:
        if recorded != [shards]:
            raise ValueError(
                f"state dir {state_dir} was written with shards="
                f"{recorded[0]} but is used with shards={shards} — the "
                "shard count must match the sink's for the dir's lifetime"
            )
        return
    stale = [n for n in names if n.startswith(("base", "delta"))]
    if stale:
        raise ValueError(
            f"state dir {state_dir} holds {stale[0]!r} but no recorded "
            "shard count (a layout older than the record) — it cannot "
            "be read without silently dropping compacted state"
        )
    if record:
        fs, _, jvm = _fs(spark, state_dir)
        fs.createNewFile(
            jvm.org.apache.hadoop.fs.Path(f"{state_dir}/_shards_{shards}")
        )


def _state_paths(
    spark: SparkSession,
    state_dir: str,
    before: int,
    shards: int,
    only: Optional[int] = None,
) -> tuple[list[str], Optional[int]]:
    """Leaf dirs holding the state below ``before`` for every shard (or
    just shard ``only``): each shard's newest base plus that shard's
    slice of every later delta. Returns (paths, newest contributing
    delta version) — a delta without rows in a shard has no slice but
    still counts as folded."""
    fs, _, jvm = _fs(spark, state_dir)
    versions = _committed(spark, state_dir)
    bases = {
        s: max(
            (v for v in versions.get(f"base_s{s}", []) if v < before),
            default=None,
        )
        for s in (range(shards) if only is None else [only])
    }
    paths = [f"{state_dir}/base_s{s}_v{b}" for s, b in bases.items()
             if b is not None]
    newest = None
    for v in versions.get("delta", []):
        live = {
            f"shard={s}"
            for s, b in bases.items()
            if v < before and (b is None or v > b)
        }
        if not live:
            continue
        newest = v
        d = f"{state_dir}/delta_v{v}"
        paths += [
            f"{d}/{st.getPath().getName()}"
            for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(d))
            if st.getPath().getName() in live
        ]
    return paths, newest


def _read(spark: SparkSession, paths: list[str], schema: str) -> DataFrame:
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def _sharded_raw(
    spark: SparkSession,
    state_dir: str,
    before: int,
    shards: int,
    schema: str,
) -> DataFrame:
    """UNMERGED rows of the state below ``before``, one multi-path scan
    of every shard's base and later delta slices. Callers apply their
    sketch's fold — valid across shards because the shard column is a
    pure function of the fold's group key."""
    paths, _ = _state_paths(spark, state_dir, before, shards)
    return _read(spark, paths, schema)


def _compact_sharded(
    spark: SparkSession,
    state_dir: str,
    batch_id: int,
    compact_every: int,
    shards: int,
    schema: str,
    fold: Callable[[DataFrame], DataFrame],
) -> None:
    """Staggered per-shard fold: shard ``s`` compacts at batches
    ``batch_id % compact_every == s * compact_every // shards`` (one
    shard: every ``compact_every``-th batch), so each compaction event
    rewrites only its O(state/shards) range — the stall amortization
    DEPLOYMENT.md's 100×-knob paragraph names. ``fold`` is the sketch's
    merge.

    Runs BEFORE the batch reads state (inputs are immutable once
    batch_id started, so a replayed batch redoes an identical fold).
    The new shard base commits (``_SUCCESS``) before anything is
    pruned, and a delta dir dies only once EVERY shard's base has
    passed it, so a crash at any point leaves readable state."""
    if batch_id == 0:
        return
    s = next(
        (
            s
            for s in range(shards)
            if batch_id % compact_every == (s * compact_every) // shards
        ),
        None,
    )
    if s is None:
        return
    paths, target = _state_paths(spark, state_dir, batch_id, shards, only=s)
    if target is not None:
        # a range no row ever landed in still writes an (empty) base:
        # it advances the shard's watermark so deltas can be pruned
        merged = fold(_read(spark, paths, schema))
        merged.write.mode("overwrite").parquet(
            f"{state_dir}/base_s{s}_v{target}"
        )
    _prune_sharded(spark, state_dir, shards)


def _prune_sharded(
    spark: SparkSession, state_dir: str, shards: int
) -> None:
    """Reclaim dirs no reader can need: per shard, bases older than its
    newest; delta dirs every shard's newest base has passed. (A shard
    with NO base yet pins every delta — correct, since its range still
    reads them all.)"""
    versions = _committed(spark, state_dir)
    newest = {}
    for s in range(shards):
        vs = versions.get(f"base_s{s}", [])
        newest[s] = vs[-1] if vs else None
        for v in vs[:-1]:
            _rm(spark, f"{state_dir}/base_s{s}_v{v}")
    if any(v is None for v in newest.values()):
        return
    floor = min(newest.values())
    for v in versions.get("delta", []):
        if v <= floor:
            _rm(spark, f"{state_dir}/delta_v{v}")


def _write_delta(
    delta: DataFrame, shard: Column, state_dir: str, batch_id: int
) -> None:
    """The batch's own updates, hive-partitioned by shard. Overwrite
    makes a replayed batch's rewrite idempotent. Static overwrite
    whatever the session's ``partitionOverwriteMode``: a dynamic one
    commits the shard dirs without the ``_SUCCESS`` marker, so readers
    would never see the delta."""
    delta.withColumn("shard", shard).write.partitionBy("shard").mode(
        "overwrite"
    ).option("partitionOverwriteMode", "static").parquet(
        f"{state_dir}/delta_v{batch_id}"
    )


def _hash_shard(shards: int, *cols: str) -> Column:
    return F.pmod(F.xxhash64(*cols), F.lit(shards)).cast("int")


# ---------------------------------------------------------------------
# Bloom ever-seen dedup
# ---------------------------------------------------------------------

_BLOOM_SCHEMA = "w long, bits long"


def _bloom_fold(df: DataFrame) -> DataFrame:
    return df.groupBy("w").agg(F.bit_or("bits").alias("bits"))


def bloom_state_words(
    spark: SparkSession,
    state_dir: str,
    before: int = 1 << 62,
    shards: int = 1,
) -> DataFrame:
    """The merged (w, bits) Bloom relation from versions < ``before`` —
    base and deltas OR-fold per word. ``shards`` must match the value
    the sink was created with."""
    _check_layout(spark, state_dir, shards)
    return _bloom_fold(
        _sharded_raw(spark, state_dir, before, shards, _BLOOM_SCHEMA)
    )


def bloom_dedup_dfs_sink(
    sink: Callable[[DataFrame, int], None],
    key_col: str,
    state_dir: str,
    m_bits: int = 1 << 24,
    k_hashes: int = 4,
    compact_every: int = 8,
    shards: int = 1,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper: ever-seen Bloom screen with the state on
    the DFS — no false negatives, false positives at the usual
    ``(1 - e^{-kn/m})^k`` design rate.

    Point ``state_dir`` under/next to the query's checkpoint location so
    state and progress share a durability domain. The membership test is
    a hash join of the batch's k·|keys| bit positions against the
    word relation — distributed end to end; nothing about the state
    touches the driver beyond file listings.

    ``shards`` is DEPLOYMENT.md's 100× compaction knob: the word space
    splits into ``shards`` contiguous ranges, each folding on its own
    staggered schedule. Total rewrite work per cycle is unchanged (each
    shard rewrites once), but the worst-case single-batch compaction
    stall drops from one O(state) rewrite to O(state/shards) — the
    latency spike a micro-batch pipeline actually cares about.
    ``shards`` is part of the state layout and must not change over a
    state dir's lifetime.
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    _check_schedule(compact_every, shards)
    n_words = m_bits // 64

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_layout(spark, state_dir, shards, record=True)
        _compact_sharded(
            spark, state_dir, batch_id, compact_every, shards,
            _BLOOM_SCHEMA, _bloom_fold,
        )
        state = _bloom_fold(
            _sharded_raw(spark, state_dir, batch_id, shards, _BLOOM_SCHEMA)
        )
        keys = batch_df.dropDuplicates([key_col])
        # k positions per key; a key is "might contain" iff EVERY
        # position's word has the bit set in the pre-batch state
        pos = keys.select(
            F.col(key_col).alias("__k"),
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(keys[key_col], F.lit(i)),
                            F.lit(m_bits),
                        )
                        for i in range(k_hashes)
                    ]
                )
            ).alias("__p"),
        ).select(
            "__k",
            (F.col("__p") / 64).cast("long").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT))"
            ).alias("__mask"),
        )
        verdict = (
            pos.join(state, "w", "left")
            .groupBy("__k")
            .agg(
                F.min(
                    F.coalesce(
                        F.col("bits").bitwiseAND(F.col("__mask")) != 0,
                        F.lit(False),
                    ).cast("int")
                ).alias("__all_set")
            )
            .filter(F.col("__all_set") == 0)
            .select("__k")
        )
        fresh = keys.join(
            verdict, keys[key_col] == verdict["__k"]
        ).drop("__k")
        # the sink sees survivors BEFORE state advances: a crash here
        # replays the batch against the same pre-batch state
        sink(fresh, batch_id)
        # contiguous key-range shard of the word space; the range (not
        # hash) split keeps each shard's base a contiguous word
        # interval, so min/max stats prune cross-shard reads
        _write_delta(
            _bloom_fold(pos.select("w", F.col("__mask").alias("bits"))),
            F.floor(F.col("w") * shards / n_words).cast("int"),
            state_dir,
            batch_id,
        )

    return wrapped


# ---------------------------------------------------------------------
# count-min accumulation
# ---------------------------------------------------------------------


_CMS_SCHEMA = "d int, bucket bigint, cnt long"


def _cms_fold(df: DataFrame) -> DataFrame:
    return df.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_state_cells(
    spark: SparkSession,
    state_dir: str,
    before: int = 1 << 62,
    shards: int = 1,
) -> DataFrame:
    """The merged (d, bucket, cnt) CMS relation from versions <
    ``before`` — CMS is linear, so merge is a per-cell SUM. Feed
    directly to ``operators.sketch.cms_estimate``. ``shards`` must
    match the sink's."""
    _check_layout(spark, state_dir, shards)
    return _cms_fold(
        _sharded_raw(spark, state_dir, before, shards, _CMS_SCHEMA)
    )


def cms_dfs_sink(
    key_col: str,
    state_dir: str,
    depth: int = 4,
    width: int = 1024,
    compact_every: int = 8,
    shards: int = 1,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` callback accumulating a CMS as (d, bucket, cnt)
    deltas on the DFS — the accumulated sketch equals the one-shot
    ``operators.sketch.cms_counts`` of all batches, for any split. Read
    back with :func:`cms_state_cells`. ``shards``: same staggered
    compaction as the Bloom/LSH sinks — cells hash-shard on the
    ``(d, bucket)`` SUM-merge key, so per-shard folds are exact."""
    from faust_spark.operators.sketch import cms_counts

    _check_schedule(compact_every, shards)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_layout(spark, state_dir, shards, record=True)
        _compact_sharded(
            spark, state_dir, batch_id, compact_every, shards,
            _CMS_SCHEMA, _cms_fold,
        )
        _write_delta(
            cms_counts(batch_df, key_col, depth, width),
            _hash_shard(shards, "d", "bucket"),
            state_dir,
            batch_id,
        )

    return sink


# ---------------------------------------------------------------------
# MinHash-LSH near-duplicate suppression
# ---------------------------------------------------------------------

_LSH_SCHEMA = "band int, band_sig string, min_id long"

#: sentinel bucket carrying the id high-watermark: real bands are
#: non-negative, so (band=-1, band_sig='__idwm__') can never collide
#: with a document claim. The watermark rides the SAME delta files and
#: the same MIN merge as the claims — we store ``-max_id``, so
#: ``-MIN(min_id)`` over sentinel rows is ``MAX(max_id)`` across
#: batches and survives compaction/replay with zero extra state files.
_LSH_IDWM_BAND = -1
_LSH_IDWM_SIG = "__idwm__"


def _lsh_fold(df: DataFrame) -> DataFrame:
    return df.groupBy("band", "band_sig").agg(
        F.min("min_id").alias("min_id")
    )


def _lsh_claims(raw: DataFrame) -> DataFrame:
    return _lsh_fold(raw.filter(F.col("band") != F.lit(_LSH_IDWM_BAND)))


def _lsh_watermark(raw: DataFrame) -> Optional[int]:
    row = (
        raw.filter(
            (F.col("band") == F.lit(_LSH_IDWM_BAND))
            & (F.col("band_sig") == F.lit(_LSH_IDWM_SIG))
        )
        .agg(F.min("min_id").alias("neg_max"))
        .first()
    )
    return -row["neg_max"] if row and row["neg_max"] is not None else None


def _lsh_raw(
    spark: SparkSession, state_dir: str, before: int, shards: int
) -> DataFrame:
    _check_layout(spark, state_dir, shards)
    return _sharded_raw(spark, state_dir, before, shards, _LSH_SCHEMA)


def lsh_bucket_state(
    spark: SparkSession,
    state_dir: str,
    before: int = 1 << 62,
    shards: int = 1,
) -> DataFrame:
    """The merged (band, band_sig, min_id) bucket-claim relation from
    versions < ``before`` — min is the merge (the lowest id ever seen
    in a bucket is order- and boundary-independent). The id-watermark
    sentinel (see ``_LSH_IDWM_BAND``) is filtered out: callers see
    document claims only. ``shards`` must match the sink's."""
    return _lsh_claims(_lsh_raw(spark, state_dir, before, shards))


def lsh_id_watermark(
    spark: SparkSession,
    state_dir: str,
    before: int = 1 << 62,
    shards: int = 1,
) -> Optional[int]:
    """Highest document id any state-writing batch < ``before`` has
    seen, or None before the first delta — the cheap detector for the
    sink's nondecreasing-ids ordering contract (ADVICE r8)."""
    return _lsh_watermark(_lsh_raw(spark, state_dir, before, shards))


def lsh_dedup_dfs_sink(
    sink: Callable[[DataFrame, int], None],
    state_dir: str,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int = 8,
    shards: int = 1,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper: streaming NEAR-duplicate suppression —
    the MinHash-LSH pendant of :func:`bloom_dedup_dfs_sink`'s exact
    ever-seen screen, with the same DFS state discipline.

    A document is emitted iff NO band of its MinHash-LSH signature
    (``operators.dedup.minhash_signatures`` + ``lsh_bands`` — identical
    banding to the batch ``minhash_lsh_pairs``) has been touched by a
    LOWER-id document, in this batch or any earlier one. The emitted set
    is therefore exactly ``{d : no d' < d shares a band with d}`` —
    batch-boundary-independent — PROVIDED ids are nondecreasing across
    batches (each batch's ids are all >= every earlier batch's), the
    natural shape for monotonically assigned document ids; within a
    batch, arrival order is irrelevant. Suppressors need not themselves
    survive (an "earlier doc", not an "earlier survivor" — the
    transitive-leader variant is ``connected_components`` territory).

    State is (band, band_sig, min_id) bucket claims: model-sized
    relative to the corpus (buckets ≪ docs under near-dup load), merged
    by MIN (associative, so delta folding commutes with replay), written
    by executors as versioned parquet deltas — no driver array, no
    collect. Screening is a left join of the batch's bands against the
    pre-batch claims; batch ``b`` reads only versions < b and rewrites
    its own delta idempotently, so at-least-once replay reproduces
    byte-identical output (same contract as the Bloom/CMS sinks).

    ``shards``: same staggered key-sharded compaction as
    :func:`bloom_dedup_dfs_sink` — bucket claims hash-shard on
    ``(band, band_sig)`` (the MIN-merge group key, so per-shard folds
    are exact), and the worst-case compaction stall drops to
    O(state/shards). The id-watermark sentinel is one (band, sig) key
    and rides whichever shard its hash lands in. ``shards`` is part of
    the state layout and must not change over a state dir's lifetime.
    """
    from faust_spark.operators.dedup import lsh_bands, minhash_signatures

    def bands_fn(batch_df: DataFrame) -> DataFrame:
        return lsh_bands(
            minhash_signatures(
                batch_df, num_hashes, n, text_col=text_col, id_col=id_col
            ),
            band_size,
            id_col=id_col,
        )

    return _banded_dedup_dfs_sink(
        bands_fn,
        sink,
        state_dir,
        id_col=id_col,
        compact_every=compact_every,
        shards=shards,
        op_name="lsh_dedup_dfs_sink",
    )


def embedding_dedup_dfs_sink(
    sink: Callable[[DataFrame, int], None],
    state_dir: str,
    n_tables: int = 4,
    n_planes: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int = 8,
    shards: int = 1,
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` wrapper: streaming near-duplicate suppression
    for the EMBEDDING modality — the hyperplane-LSH pendant of
    :func:`lsh_dedup_dfs_sink`'s MinHash text screen, riding the
    identical banded bucket-claim state machinery (same ordering
    contract, id-watermark sentinel, replay idempotence, and
    ``shards=`` staggered compaction).

    A vector is emitted iff NO table's sign-bit signature
    (``operators.similarity.hyperplane_signature`` — deterministic
    md5-derived hyperplanes, seeds 1..n_tables, the same family as the
    batch ``ann_lsh_topk`` gate) was claimed by a LOWER-id vector, in
    this batch or any earlier one. Multi-table OR-banding is standard
    cosine-LSH dedup: near-identical embeddings agree on every table's
    signature w.h.p., while a random pair collides per table with
    probability ``(1 - θ/π)^n_planes``. State is (band=table,
    band_sig=bit-string, min_id) — model-sized relative to the corpus.

    Scale shape: signatures are a narrow codegen map (no shuffle); the
    screen is the same bucket equi-join as the text sink. ``n_planes``
    is part of the STATE LAYOUT (prior claims are signatures at that
    width), so it must be fixed at sink creation — size it with
    ``operators.similarity.hyperplane_params(expected_corpus_size)``
    (the same rules-not-constants family as ``simhash_params``; the
    gate applies it to the actual count), and grow ``n_tables`` with
    the recall you need.
    """
    from faust_spark.operators.similarity import hyperplane_bands_arrow

    def bands_fn(batch_df: DataFrame) -> DataFrame:
        # one Arrow pass for ALL tables' signatures (r12): the per-table
        # hyperplane_signature loop evaluated n_tables x n_planes
        # INTERPRETED zip_with/aggregate dots per row — profiled as 3-4s
        # of the ~5s per-batch cost at the 10x probe. Bit-identical
        # buckets (explicit ascending fold; parity pinned in
        # tests/test_similarity.py), so existing state layouts and the
        # gate's DuckDB oracle are untouched.
        return hyperplane_bands_arrow(
            batch_df,
            n_tables=n_tables,
            n_planes=n_planes,
            dim=dim,
            id_col=id_col,
            vec_col=vec_col,
        )

    return _banded_dedup_dfs_sink(
        bands_fn,
        sink,
        state_dir,
        id_col=id_col,
        compact_every=compact_every,
        shards=shards,
        op_name="embedding_dedup_dfs_sink",
    )


def _banded_dedup_dfs_sink(
    bands_fn: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
    state_dir: str,
    id_col: str,
    compact_every: int,
    shards: int,
    op_name: str,
) -> Callable[[DataFrame, int], None]:
    """Shared engine of the banded bucket-claim sinks: ``bands_fn``
    maps a batch to its ``(id_col, band int, band_sig string)`` rows;
    everything else — MIN-merged claims, ordering-contract watermark,
    screen, idempotent delta write, sharded compaction — is
    modality-independent."""
    _check_schedule(compact_every, shards)

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _check_layout(spark, state_dir, shards, record=True)
        _compact_sharded(
            spark, state_dir, batch_id, compact_every, shards,
            _LSH_SCHEMA, _lsh_fold,
        )
        # ordering-contract detector (ADVICE r8): the emitted-set
        # equivalence to the batch NOT-EXISTS predicate needs ids
        # nondecreasing across batches; a violation must fail loudly,
        # not silently diverge from the oracle. One batch-sized agg;
        # the sentinel lookup and the claims relation share ONE
        # persisted read of the state files (the watermark action would
        # otherwise scan every base/delta a second time per batch).
        lo_hi = batch_df.agg(
            F.min(F.col(id_col).cast("long")).alias("lo"),
            F.max(F.col(id_col).cast("long")).alias("hi"),
        ).first()
        batch_lo, batch_hi = lo_hi["lo"], lo_hi["hi"]
        raw = _sharded_raw(
            spark, state_dir, batch_id, shards, _LSH_SCHEMA
        ).persist()
        # try/finally (ADVICE r9): a raise from sink() or any
        # intermediate action must not leak the cached state relation
        # into the retried micro-batch — the executor block-manager
        # memory would otherwise accumulate one orphan per retry
        try:
            prev_max = _lsh_watermark(raw)
            if (
                batch_lo is not None
                and prev_max is not None
                and batch_lo < prev_max
            ):
                raise ValueError(
                    f"{op_name}: ordering contract violated — "
                    f"batch {batch_id} min {id_col}={batch_lo} is below the "
                    f"running max {prev_max} of earlier batches; emitted "
                    "set would silently diverge from the batch NOT-EXISTS "
                    "semantics (ids must be nondecreasing across batches)"
                )
            state = _lsh_claims(raw)
            bands = bands_fn(batch_df)
            batch_claims = bands.groupBy("band", "band_sig").agg(
                F.min(id_col).alias("batch_min")
            )
            # a band suppresses the doc iff a lower id claimed it — in the
            # pre-batch state or inside this batch (batch_min == own id for
            # the batch's leader, so the leader is never self-suppressed)
            suppressed = (
                bands.join(batch_claims, ["band", "band_sig"])
                .join(state, ["band", "band_sig"], "left")
                .groupBy(id_col)
                .agg(
                    F.max(
                        (
                            F.coalesce(F.col("min_id"), F.col(id_col))
                            < F.col(id_col)
                        )
                        | (F.col("batch_min") < F.col(id_col))
                    ).alias("__dup")
                )
            )
            # anti-join on the SUPPRESSED ids (not inner-join on
            # survivors): a doc too short to produce any shingle has no
            # band rows and must pass through, exactly like the batch
            # operators treat it
            fresh = batch_df.join(
                suppressed.filter(F.col("__dup")).select(id_col),
                id_col,
                "left_anti",
            )
            # the sink sees survivors BEFORE state advances: a crash here
            # replays the batch against the same pre-batch state
            sink(fresh, batch_id)
            delta = batch_claims.select(
                "band", "band_sig", F.col("batch_min").alias("min_id")
            )
            if batch_hi is not None:
                # id-watermark sentinel rides the same delta (negated so
                # the MIN merge yields the running MAX; see
                # _LSH_IDWM_BAND). Built JVM-side: a Python-list
                # createDataFrame plans a Python-runner local scan
                # costing ~5s PER ACTION even for one row (measured on
                # the livecheck sentinel, r8) — at one sentinel per
                # micro-batch that fixed cost is the difference between
                # a 1s and a 6s batch.
                delta = delta.unionByName(
                    spark.range(1).select(
                        F.lit(_LSH_IDWM_BAND).cast("int").alias("band"),
                        F.lit(_LSH_IDWM_SIG).alias("band_sig"),
                        F.lit(-int(batch_hi)).cast("long").alias("min_id"),
                    )
                )
            _write_delta(
                delta,
                _hash_shard(shards, "band", "band_sig"),
                state_dir,
                batch_id,
            )
        finally:
            raw.unpersist()

    return wrapped


__all__ = [
    "bloom_dedup_dfs_sink",
    "bloom_state_words",
    "cms_dfs_sink",
    "cms_state_cells",
    "lsh_bucket_state",
    "lsh_dedup_dfs_sink",
]
