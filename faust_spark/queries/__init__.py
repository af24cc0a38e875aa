"""The registered queries: faust_spark dataflows and their DuckDB oracles.

Each key is an implemented operator from SURVEY.md §2 (or a
beyond-reference LLM-pipeline operator); its oracle is the DuckDB
ANSI-SQL equivalent run against the same parquet tables. The families
(``faust``, ``relational``, ``streaming``, ``pipeline``, ``livecheck``)
register their keys with ``_q`` when imported; ``__spark_entry__``
imports all five and decides the order the driver sees.

Determinism rules used throughout (so Spark and DuckDB hash-match):
- Sums over doubles go through ``CAST(x AS DECIMAL(18,2|4))`` on BOTH sides
  (exact decimal accumulation — double summation order would differ), then
  cast back to DOUBLE (a decimal→double conversion is deterministic).
- Averages are computed as decimal-sum / count in double arithmetic.
- Window starts use ``date_trunc`` / epoch arithmetic on naive UTC
  timestamps (the Spark session runs with ``spark.sql.session.timeZone=UTC``).
- Every computed column is aliased identically in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"query key {name!r} is already registered")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from faust_spark.catalog import load_table

    return load_table(spark, sf_dir, name)


def _dec_sum(col, scale: int = 2, alias: str = "total"):
    """Deterministic double-sum: exact decimal accumulation, double result."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double").alias(alias)
