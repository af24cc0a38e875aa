"""Driver contract: entry / queries / oracle_sql.

The queries live in ``faust_spark/queries/``, one module per family;
importing a family registers its keys and their DuckDB oracles. This
file decides only the order the driver sees.

The driver gates the first 50 keys of ``queries()`` each round and
leaves its verdict beside this file as ``CORRECTNESS_r<N>.json``. Keys
are ordered by the newest round in which the driver saw them green:
never-green keys first, then the oldest evidence, ties by key name, so
each round's window is the stalest 50. A green row is a hash match; a
rows-only match without an error counts only for a key that has no
oracle. With no history files, keys come in name order.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Collection, Iterable

from pyspark.sql import DataFrame, SparkSession

from faust_spark.queries import _ORACLES, _QUERIES, QueryFn

# importing a family registers its keys
from faust_spark.queries import faust, livecheck, pipeline, streaming  # noqa: F401
from faust_spark.queries.relational import q1_pricing

_HERE = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: TPC-H Q1 pricing summary."""
    return q1_pricing(spark, "/root/testdata/sf0.001")


def _green_rounds(history_dir: str, oracle_keys: Collection[str]) -> dict[str, int]:
    """Newest round of ``history_dir``'s driver files with a green row, per key."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(history_dir, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)", os.path.basename(path)).group(1))
        with open(path) as fh:
            rows = json.load(fh)
        for key, row in rows.items():
            rows_only = row.get("rows_match") and row.get("err") is None
            if row.get("hash_match") or (rows_only and key not in oracle_keys):
                newest[key] = max(newest.get(key, 0), rnd)
    return newest


def _order(
    keys: Iterable[str], oracle_keys: Collection[str], history_dir: str
) -> list[str]:
    newest = _green_rounds(history_dir, oracle_keys)
    return sorted(keys, key=lambda k: (newest.get(k, 0), k))


def queries() -> dict[str, QueryFn]:
    return {k: _QUERIES[k] for k in _order(_QUERIES, _ORACLES, _HERE)}


def oracle_sql() -> dict[str, str]:
    return {k: _ORACLES[k] for k in _order(_ORACLES, _ORACLES, _HERE)}
