"""SparkSession factory tuned for both local testing and cluster scale.

Every knob here is chosen for the 100 TB target (see README): AQE for runtime
re-planning and skew-join splitting, partition-size targets that keep shuffle
blocks in executor memory, Arrow for any pandas-UDF boundary, and UTC session
time so event-time window math is deterministic across engines (the DuckDB
correctness oracle runs in UTC). The JVM's generated-class cache holds every
class the registered queries generate, with twice that as headroom, so a
warm session compiles each class once.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "faust_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster every config below still applies; only ``master``
    changes. AQE coalesces the static ``shuffle_partitions`` down when data
    is small and splits skewed partitions when it is not, so one setting
    serves sf0.001 tests and the 1000-executor target.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # local mode runs everything in one JVM; the 1g default heap GC-
        # thrashes under 32 concurrent tasks (effective only when this
        # call launches the JVM, i.e. the first session of the process)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "16g"))
        # --- deterministic event-time math (matches the DuckDB oracle) ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-planning at any scale ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: static upper bound, AQE coalesces downward ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # 128 MB scan splits: big enough to amortize task overhead, small
        # enough that a 100 TB table still yields ~800k parallel tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- broadcast: dimension tables (region/nation/customer) are tiny
        # relative to facts; 64 MB threshold keeps them map-side. ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for every pandas UDF / toPandas boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.spill.compress", "true")
        # parquet writer defaults for any sink we materialize
        .config("spark.sql.parquet.compression.codec", "snappy")
        # --- whole-stage codegen: compile each generated class once per JVM.
        # Every registered query run once in one session at sf0.01 generates
        # 2,486 distinct classes (CodegenMetrics compile count, nothing
        # evicted). At Spark's default of 100 the same run compiles 3,729,
        # and q1_pricing, kn_logprob and dedup_jaccard_prefix (88 classes)
        # recompile 24-29 per warm pass. Guava's LRU splits the cap over 4
        # segments and evicts per segment, so the cap is twice the set.
        # Static conf: read once, when the JVM first generates code. ---
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def conf_set(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Run the block with runtime conf ``key`` set to ``value``, then put
    the session's own setting back: its old value, or unset if it had
    none, so the session's conf reads exactly as before the block."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
