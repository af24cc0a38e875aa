"""Streaming execution queries (SURVEY §2.5, §2.8) and the helpers other
families share to drive a bounded replay of the fixture through
Structured Streaming.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faust_spark.queries import _dec_sum, _q, _t


def _events_stream(spark: SparkSession, sf_dir: str):
    from faust_spark.catalog import normalize_event_time
    from faust_spark.streaming.runner import stream_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    s = stream_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    # one shared helper handles every fixture encoding the driver has
    # shipped (nanos-as-long, µs-as-NTZ) — see catalog.normalize_event_time
    return normalize_event_time(s)


def _stream_state_parts(spark: SparkSession, sf_dir: str) -> int:
    """State-store partition count for the stream gates:
    ``streaming.runner.state_partitions`` (the rule bench.py's
    windowed-eps block also applies), capped at the session width. The
    event count comes from the parquet FOOTER (driver-side metadata, no
    Spark job); any failure (DFS path, missing pyarrow) falls back to
    the session width, which is always correct — results are
    partitioning-invariant, only the fixed overhead changes."""
    from faust_spark.streaming.runner import state_partitions

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        import pyarrow.parquet as _pq

        n = _pq.read_metadata(
            os.path.join(sf_dir, "events.parquet")
        ).num_rows
        return state_partitions(n, default)
    except Exception:
        return default


@_q(
    "stream_tumbling_hourly",
    """
    SELECT date_trunc('hour', ts) AS wstart, event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tumbling_hourly executed by the streaming engine: file-replay
    source → windowed agg in the state store → complete-mode memory sink
    (availableNow trigger). Hash-matches the same oracle as the batch
    form — the streaming path computes the identical result."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        s = _events_stream(spark, sf_dir)
        agg = s.groupBy(F.window("ts", "3600 seconds"), "event_type").agg(
            F.count(F.lit(1)).alias("cnt"), _dec_sum("value")
        )
        out = run_to_memory(agg, output_mode="complete")
    return out.select(
        F.col("window.start").alias("wstart"), "event_type", "cnt", "total"
    )


@_q(
    "stream_window_close",
    """
    SELECT date_trunc('hour', ts) AS wstart, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1
    HAVING date_trunc('hour', ts) + INTERVAL '1 hour'
           <= (SELECT MAX(ts) FROM events) - INTERVAL '600 seconds'
    """,
)
def stream_window_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``on_window_close`` emission (reference
    examples/windowed_aggregation.py:35-58, fired by `_del_old_keys`):
    watermark = expires (600 s), append output mode — a window's final
    row emits exactly when it closes. The oracle selects windows whose
    end precedes the terminal watermark (max event time - 600 s)."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        s = _events_stream(spark, sf_dir)
        agg = (
            s.withWatermark("ts", "600 seconds")
            .groupBy(F.window("ts", "3600 seconds"))
            .agg(F.count(F.lit(1)).alias("cnt"), _dec_sum("value"))
        )
        out = run_to_memory(agg, output_mode="append")
    return out.select(F.col("window.start").alias("wstart"), "cnt", "total")


@_q(
    "stream_stateful_counter",
    """
    SELECT user_id, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The faust counter table ``table[k] += v`` (SURVEY §2.4/M5):
    cumulative count+sum per user as a native update-mode streaming
    aggregation (state-store buffer, no Python worker); final value per
    key = max over emissions (batching-invariant)."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )
    from faust_spark.streaming.state import stateful_counter

    # fewer state partitions = fewer state-store commits per batch (the
    # count is fixed at query start): the shared keyed-state-volume rule
    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        s = _events_stream(spark, sf_dir)
        counted = stateful_counter(
            s.groupBy("user_id"), "user_id", sum_col="value"
        )
        out = run_to_memory(counted, output_mode="update")
    return out.groupBy("user_id").agg(
        F.max("cnt").alias("cnt"), F.max("total").alias("total")
    )


@_q(
    "stream_dedup",
    """
    SELECT event_id, user_id, event_type FROM events
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup (SURVEY §2.6): the events stream unioned with
    itself (every row duplicated) → ``dropDuplicates`` on the key with a
    watermark bounding the dedup state → exactly the original rows. The
    state-store dedup is the exactly-once ingestion building block."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        s1 = _events_stream(spark, sf_dir)
        s2 = _events_stream(spark, sf_dir)
        doubled = s1.unionByName(s2).select(
            "event_id", "user_id", "event_type", "ts"
        )
        deduped = doubled.withWatermark("ts", "1 hour").dropDuplicates(
            ["event_id"]
        )
        out = run_to_memory(deduped, output_mode="append")
    return out.select("event_id", "user_id", "event_type")


_SHINGLE_CTE = """
    w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
           FROM w, unnest(generate_series(1, len(ws) - 2)) t(i)),
    sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1)
"""


def _mh_oracle_pieces() -> tuple[str, str, str]:
    """SQL fragments for the universal-hash minhash family: the 8-nibble
    md5 prefix decode (column ``d``) and the (a, b) coefficient list
    literals — same deterministic constants the Spark operator embeds
    (operators/dedup.py minhash_coeffs)."""
    from faust_spark.operators.dedup import minhash_coeffs

    nibbles = " + ".join(
        f"(instr('0123456789abcdef', substr(d, {i + 1}, 1)) - 1) * "
        f"{16 ** (7 - i)}"
        for i in range(8)
    )
    a_co, b_co = minhash_coeffs(16)
    return (
        nibbles,
        "[" + ",".join(str(v) for v in a_co) + "]",
        "[" + ",".join(str(v) for v in b_co) + "]",
    )


_MH_NIBBLES, _MH_A, _MH_B = _mh_oracle_pieces()


def _replay_ids(
    spark: SparkSession,
    label: str,
    fixture: DataFrame,
    id_col: str,
    wrap: Callable,
    ordered: bool,
) -> DataFrame:
    """The id-emitting dedup gates' replay: ``fixture`` streams through
    the DFS-state sink ``wrap(sink, state_dir)`` builds, and the ids it
    lets through come back as a one-column DataFrame.

    The fixture replays as 4 part files. ``ordered`` writes ascending
    ``id_col`` ranges (``runner.write_ordered``) delivered one per
    micro-batch, the banded sinks' ordering contract; otherwise 4
    round-robin files replay 2 per trigger. The sink's state rides under
    the checkpoint root: one durability domain for progress and state.

    GATE-HARNESS ONLY: the collect() in ``sink`` funnels survivors into
    the comparable DataFrame the driver hashes. The operators never
    collect; production pipelines point the sink at a parquet or Kafka
    writer (examples/everseen_dedup.py)."""
    import pandas as pd

    from faust_spark.streaming.runner import (
        drain,
        stream_parquet,
        write_ordered,
    )

    emitted: list = []

    def sink(df: DataFrame, bid: int) -> None:
        emitted.extend(int(r[0]) for r in df.select(id_col).collect())

    with tempfile.TemporaryDirectory(prefix=f"{label}_") as work:
        src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
        if ordered:
            write_ordered(fixture, src, 4, id_col)
        else:
            fixture.repartition(4).write.parquet(src)
        stream = stream_parquet(
            spark, src, max_files_per_trigger=1 if ordered else 2
        )
        drain(
            stream.writeStream.foreachBatch(
                wrap(sink, os.path.join(ckpt, "state"))
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt),
            label,
        )
    return spark.createDataFrame(
        pd.DataFrame({id_col: pd.Series(sorted(emitted), dtype="int64")})
    )


@_q(
    "stream_everseen_dedup",
    """
    SELECT DISTINCT user_id FROM events
    """,
)
def stream_everseen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ever-seen streaming dedup through the DFS state backend
    (streaming/dfs_state.py ``bloom_dedup_dfs_sink``: state lives as
    versioned parquet word deltas and bases under the checkpoint root,
    written by executors). Unlike the watermarked
    ``stream_dedup`` (which forgets past the horizon), the Bloom screen
    suppresses keys seen in ANY earlier batch with O(m_bits) state. The
    events table replays as multiple micro-batches (4 files, 2 per
    trigger); each user_id must surface EXACTLY once across all batches
    — so the emitted set equals DISTINCT user_id regardless of batch
    boundaries (the oracle). The 2^22-bit map keeps the false-positive
    probability for the fixture cardinalities below ~1e-6, i.e.
    deterministic in practice; the bounded-FP and replay contracts are
    pinned in tests/test_dfs_state.py."""
    from faust_spark.streaming.dfs_state import bloom_dedup_dfs_sink

    return _replay_ids(
        spark,
        "stream_everseen_dedup",
        _t(spark, sf_dir, "events").select("user_id", "ts"),
        "user_id",
        lambda sink, state: bloom_dedup_dfs_sink(
            sink, "user_id", state, m_bits=1 << 22
        ),
        ordered=False,
    )


@_q(
    "stream_lsh_dedup",
    f"""
    WITH {_SHINGLE_CTE},
    hsh AS (
      SELECT doc_id, shingle,
             ({_MH_NIBBLES}) % 2147483647 AS h
      FROM (SELECT doc_id, shingle, md5(shingle) AS d FROM sh)
    ),
    seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
    sig AS (
      SELECT doc_id, seed,
             MIN(({_MH_A}[seed + 1] * h + {_MH_B}[seed + 1])
                 % 2147483647) AS mh
      FROM hsh CROSS JOIN seeds GROUP BY 1, 2
    ),
    band AS (
      SELECT doc_id, seed // 4 AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS band_sig
      FROM sig GROUP BY 1, 2
    )
    SELECT d.doc_id FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM band b2
      JOIN band b1 ON b1.band = b2.band AND b1.band_sig = b2.band_sig
                  AND b1.doc_id < b2.doc_id
      WHERE b2.doc_id = d.doc_id)
    """,
)
def stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate suppression through the DFS-sharded
    state backend (streaming/dfs_state.py lsh_dedup_dfs_sink) — the
    MinHash-LSH pendant of stream_everseen_dedup's exact Bloom screen:
    a document surfaces iff NO lower-id document (any earlier batch, or
    this one) shares a MinHash band with it, using the identical
    16-hash / 4-band family as the batch minhash_lsh_pairs gate. State
    is the (band, band_sig, min_id) bucket-claim relation, merged by
    MIN (associative — delta folding commutes with replay), written by
    executors as versioned parquet deltas. The documents table replays
    as 4 range-partitioned micro-batches (ids nondecreasing across
    batches — the documented ordering contract, natural for
    monotonically assigned doc ids); the emitted set then equals the
    batch-agnostic NOT-EXISTS predicate the oracle computes, regardless
    of where the batch boundaries fall."""
    from faust_spark.streaming.dfs_state import lsh_dedup_dfs_sink

    return _replay_ids(
        spark,
        "stream_lsh_dedup",
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        lsh_dedup_dfs_sink,
        ordered=True,
    )


def _embedding_dedup_oracle_sql(
    n_tables: int = 2, max_planes: int = 16, dim: int = 64
) -> str:
    """Batch NOT-EXISTS replica of embedding_dedup_dfs_sink: per table,
    the sign-bit bucket string over the SAME md5-derived hyperplanes
    (seeds 1..n_tables, embedded as double literals — the ann_lsh_topk
    precedent, where list_sum/list_transform sign parity with Spark's
    F.aggregate fold is already gate-proven at both sfs); a vector
    survives iff no lower-id vector shares any table's bucket.

    The signature WIDTH is the corpus-scaled rule
    ``similarity.hyperplane_params`` (r10 discipline: widths are rules,
    not constants) — the SQL computes it from COUNT(*) and builds each
    bucket as a PREFIX of the ``max_planes`` embedded plane family
    (bit p contributes only when ``p < width``), so one static oracle
    string verifies the gate at the width the rule picks at ANY sf."""
    from faust_spark.operators.similarity import _deterministic_planes

    def arr(row: list[float]) -> str:
        return "[" + ",".join(repr(v) for v in row) + "]"

    # hyperplane_params(n, lo=8, hi=16, target_bucket=4) in SQL —
    # identical double math (log2 + ceil) to the Python rule
    width_sql = """params AS (
      SELECT LEAST(16, GREATEST(8,
               CAST(ceil(log2(GREATEST(COUNT(*), 2) / 4.0)) AS INT)))
             AS w
      FROM embeddings)"""
    table_ctes = [width_sql]
    for t in range(n_tables):
        planes = _deterministic_planes(max_planes, dim, seed=t + 1)
        bits = ",\n             ".join(
            "CASE WHEN {p} >= (SELECT w FROM params) THEN '' "
            "WHEN list_sum(list_transform(list_zip(v, {a}), "
            "x -> x[1]*x[2])) >= 0 THEN '1' ELSE '0' END".format(
                p=p, a=arr(plane)
            )
            for p, plane in enumerate(planes)
        )
        table_ctes.append(
            f"""sig{t} AS (
      SELECT vec_id, {t} AS band, concat({bits}) AS band_sig FROM e)"""
        )
    sigs_union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM sig{t}" for t in range(n_tables)
    )
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    {", ".join(table_ctes)},
    band AS ({sigs_union})
    SELECT em.vec_id FROM embeddings em
    WHERE NOT EXISTS (
      SELECT 1 FROM band b2
      JOIN band b1 ON b1.band = b2.band AND b1.band_sig = b2.band_sig
                  AND b1.vec_id < b2.vec_id
      WHERE b2.vec_id = em.vec_id)
    """


@_q("stream_embedding_dedup", _embedding_dedup_oracle_sql())
def stream_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate suppression for the EMBEDDING modality
    (streaming/dfs_state.py embedding_dedup_dfs_sink) — hyperplane-LSH
    sign-bit signatures (2 independent md5-derived plane families, the
    ann_lsh_topk family) riding the same DFS-sharded bucket-claim
    state as stream_lsh_dedup: a vector surfaces iff NO lower-id
    vector (any earlier batch, or this one) shares a table's
    signature. The signature WIDTH is the corpus-scaled rule
    similarity.hyperplane_params — a streaming sink's width is part of
    its state layout and must be fixed at CREATION, so the gate sizes
    it from the corpus count the way a deployer sizes it from the
    expected stream volume; the oracle computes the identical rule
    from COUNT(*) and prefixes the max-width plane family, verifying
    at the chosen width at any sf. Completes the streaming dedup
    matrix: exact keys (stream_everseen_dedup, Bloom), text near-dups
    (stream_lsh_dedup, MinHash), embedding near-dups (this gate,
    cosine LSH). The embeddings table replays as 4 range-partitioned
    micro-batches (ids nondecreasing — the documented ordering
    contract); the emitted set then equals the batch-agnostic
    NOT-EXISTS predicate the oracle computes, regardless of batch
    boundaries."""
    from faust_spark.operators.similarity import hyperplane_params
    from faust_spark.streaming.dfs_state import embedding_dedup_dfs_sink

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_planes = hyperplane_params(emb.count())
    return _replay_ids(
        spark,
        "stream_embedding_dedup",
        emb,
        "vec_id",
        lambda sink, state: embedding_dedup_dfs_sink(
            sink, state, n_tables=2, n_planes=n_planes
        ),
        ordered=True,
    )


@_q(
    "stream_hopping",
    """
    WITH e AS (SELECT epoch(ts) AS te FROM events),
    w AS (
      SELECT CAST(floor(te / 900) * 900 - k * 900 AS BIGINT) AS ws
      FROM e CROSS JOIN (VALUES (0), (1)) t(k)
      WHERE floor(te / 900) * 900 - k * 900 > te - 1800
    )
    SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL '1 second' * ws AS wstart,
           COUNT(*) AS cnt
    FROM w GROUP BY 1
    """,
)
def stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping windows through the streaming engine (size 30 min, hop
    15 min): every event counted in both overlapping windows by the state
    store; same window-assignment oracle as the batch form."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        s = _events_stream(spark, sf_dir)
        agg = s.groupBy(
            F.window("ts", "1800 seconds", "900 seconds")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        out = run_to_memory(agg, output_mode="complete")
    return out.select(F.col("window.start").alias("wstart"), "cnt")


@_q(
    "stream_set_table",
    """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
    FROM events GROUP BY user_id
    """,
)
def stream_set_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SetTable through the streaming engine: per-key collect_set in the
    state store (complete mode), sorted+joined for the deterministic
    encoding — the reference's changelogged per-key set."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        s = _events_stream(spark, sf_dir)
        agg = s.groupBy("user_id").agg(
            F.array_sort(F.collect_set("event_type")).alias("types_arr")
        )
        out = run_to_memory(agg, output_mode="complete")
    return out.select("user_id", F.array_join("types_arr", ",").alias("types"))


@_q(
    "stream_stream_join",
    """
    SELECT p.user_id, p.ts AS p_ts, c.ts AS c_ts
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
    WHERE p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join through the streaming engine —
    the operator the reference declares but stubs (its joins raise
    NotImplementedError; its own test asserts that). Full replay emits
    exactly the batch join result (oracle = plain SQL join)."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    p = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        out = run_to_memory(j, output_mode="append")
    return out.select("user_id", "p_ts", "c_ts")


@_q(
    "stream_left_outer_join",
    """
    WITH wm AS (
      SELECT least(
        (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
        (SELECT max(ts) FROM events WHERE event_type = 'click')
      ) - INTERVAL '1 hour' AS w
    ),
    j AS (
      SELECT p.user_id, p.ts AS p_ts, c.ts AS c_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id
       AND c.ts BETWEEN p.ts - INTERVAL '30 minutes' AND p.ts
    )
    SELECT user_id, p_ts, c_ts FROM j CROSS JOIN wm
    WHERE c_ts IS NOT NULL OR p_ts < w
    """,
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the genuinely
    streaming-only semantics: matched pairs emit immediately; an
    unmatched purchase emits its null-extended row only once the
    watermark proves no future click can join it (no click with
    c_ts <= p_ts can still arrive once watermark > p_ts). The oracle
    encodes exactly that: batch left join, outer rows kept iff
    p_ts < min(max_purchase_ts, max_click_ts) - 1h (the final global
    watermark — Spark takes the min across both inputs). Purchases
    inside the final watermark hour stay open forever in a finite
    replay, and the driver-checked row set pins that boundary."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    p = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "leftOuter",
    )
    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        out = run_to_memory(j, output_mode="append")
    return out.select("user_id", "p_ts", "c_ts")


@_q(
    "stream_blocklist_filter",
    """
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    WHERE e.user_id NOT IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    """,
)
def stream_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static LEFT ANTI join through the streaming engine: drop
    every event whose user is on a static blocklist — the
    abuse/opt-out/PII-suppression filter every production stream runs.
    The blocklist is a broadcast build side, so the stream never
    shuffles; at 100 TB/day this is a map-side filter against a
    replicated hash set, refreshed by restarting the query (or via
    foreachBatch re-read for hot reload)."""
    from faust_spark.streaming.runner import run_to_memory

    s = _events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    block = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    out = run_to_memory(
        s.join(F.broadcast(block), "user_id", "left_anti"),
        output_mode="append",
    )
    return out.select("event_id", "user_id", "event_type")


@_q(
    "stream_enriched_counts",
    """
    SELECT c.c_mktsegment AS segment, COUNT(*) AS cnt
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment through the streaming engine: the
    streaming events join the static customer dimension (broadcast) and
    aggregate — the reference's table-lookup-in-agent idiom executed as a
    streaming query. Same oracle as the batch form."""
    from faust_spark.joins import global_lookup
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    s = _events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = global_lookup(s, dim, on=s.user_id == dim.c_custkey, how="inner")
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        return run_to_memory(agg, output_mode="complete")


@_q(
    "hourly_histogram",
    """
    SELECT CAST(date_part('hour', ts) AS INT) AS hour, event_type,
           COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def hourly_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day histogram per event type (date-part extraction)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.hour("ts").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_q(
    "null_safe_join",
    """
    WITH e AS (
      SELECT event_id,
             CASE WHEN value < 50 THEN NULL
                  ELSE CAST(FLOOR(value / 100) AS BIGINT) END AS bucket
      FROM events WHERE event_type = 'signup'
    ),
    d AS (
      SELECT DISTINCT CASE WHEN value < 50 THEN NULL
                           ELSE CAST(FLOOR(value / 100) AS BIGINT) END AS bucket
      FROM events WHERE event_type = 'error'
    )
    SELECT e.bucket, COUNT(*) AS cnt
    FROM e JOIN d ON e.bucket IS NOT DISTINCT FROM d.bucket
    GROUP BY 1
    """,
)
def null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): nulls match
    nulls — the semantic corner plain equality joins silently drop."""
    e = _t(spark, sf_dir, "events")
    bucket = F.when(
        F.col("value") >= 50, F.floor(F.col("value") / 100).cast("bigint")
    )
    left = e.filter(F.col("event_type") == "signup").select(
        "event_id", bucket.alias("bucket")
    )
    right = (
        e.filter(F.col("event_type") == "error")
        .select(bucket.alias("bucket"))
        .distinct()
    )
    return (
        left.join(right, left.bucket.eqNullSafe(right.bucket))
        .groupBy(left.bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_q(
    "session_windows",
    """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '1800 seconds'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    y AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS cnt
    FROM y GROUP BY user_id, sid
    """,
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) per user — absent in the reference
    (SURVEY §2.5 notes it as a Spark bonus), native via
    ``F.session_window``. The oracle reproduces gap-sessionization with
    the classic lag/cumsum island construction."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "1800 seconds"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "cnt",
        )
    )


@_q(
    "stream_session_windows",
    """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '1800 seconds'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    y AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM x
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS cnt
    FROM y GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_windows executed by the streaming engine: gap-based
    ``F.session_window`` merging live in the state store across replay
    batches (sessions spanning batch boundaries must merge), complete-mode
    memory sink. Hash-matches the same lag/cumsum oracle as the batch
    form."""
    from faust_spark.streaming.runner import (
        run_to_memory,
        shuffle_partitions,
    )

    with shuffle_partitions(spark, _stream_state_parts(spark, sf_dir)):
        s = _events_stream(spark, sf_dir)
        agg = s.groupBy(
            F.session_window("ts", "1800 seconds"), "user_id"
        ).agg(F.count(F.lit(1)).alias("cnt"))
        out = run_to_memory(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "cnt",
    )
