"""Test-data catalog: load the driver's parquet tables.

The driver fixtures (TESTDATA.md) are one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``, named as the DuckDB oracle's
views are (:data:`TABLES`).
A table's parquet schema is inferred once per file version (path, size,
mtime) and reused, so a repeated load launches no footer-reading job.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_time(df: DataFrame, col_name: str = "ts") -> DataFrame:
    """Normalize a fixture event-time column to plain TIMESTAMP.

    The driver fixture has shipped two physical encodings over rounds:

    * parquet TIMESTAMP(NANOS) — Spark's reader rejects it outright
      unless ``spark.sql.legacy.parquet.nanosAsLong`` is on, in which
      case it surfaces as LongType nanos. Floor-divide to micros
      (exactly DuckDB's nanos→micros truncation, so the oracle agrees).
    * parquet TIMESTAMP(µs) without isAdjustedToUTC — Spark reads it as
      TIMESTAMP_NTZ, which ``withWatermark`` and ``unix_micros`` reject.
      Under a UTC session timezone the NTZ→TIMESTAMP cast is
      value-identical, so batch hashes are unchanged and the watermark
      path works again.

    Every events consumer (batch catalog, streaming entry, bench) MUST go
    through this one helper so a future fixture re-encoding can only
    break one place.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema[col_name].dataType
    if isinstance(dt, LongType):
        df = df.withColumn(
            col_name, F.expr(f"timestamp_micros({col_name} DIV 1000)")
        )
    elif isinstance(dt, TimestampNTZType):
        df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df


#: parquet schemas as Spark inferred them, keyed by :func:`_file_version`
#: (inference reads footers in a Spark job on every ``spark.read.parquet``)
_SCHEMAS: dict[tuple, StructType] = {}


def _file_version(path: str) -> tuple | None:
    """``(path, size, mtime_ns)`` of a file; for a directory, ``(path,
    sorted (relative name, size, mtime_ns) of every file under it)``.
    ``None`` when ``os.stat`` cannot see the path (a remote URI): such a
    table is inferred on every load."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (path, st.st_size, st.st_mtime_ns)
        entries = []
        for root, _, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                fs = os.stat(full)
                entries.append(
                    (os.path.relpath(full, path), fs.st_size, fs.st_mtime_ns)
                )
    except OSError:
        return None
    return (path, tuple(sorted(entries)))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalizing physical quirks (see
    :func:`normalize_event_time`). Confs are set per-session so the
    driver's own SparkSession works too."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Event-time math must be UTC regardless of the caller's session
    # defaults (the correctness driver builds its own SparkSession).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _file_version(path)
    if key in _SCHEMAS:
        df = spark.read.schema(_SCHEMAS[key]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
    if name == "events":
        df = normalize_event_time(df)
    return df

