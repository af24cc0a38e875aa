"""The driver contract without a Spark session: the key set, the
queries/oracles pairing, the registry's duplicate check, and the order
rule over the driver's evidence history (``CORRECTNESS_r<N>.json``)."""

import json
import os

import pytest

import __spark_entry__ as entry
from faust_spark.queries import _QUERIES, _q

HASH = {"rows_match": True, "hash_match": True, "err": None}
ROWS_ONLY = {"rows_match": True, "hash_match": False, "err": None}
RED = {"rows_match": False, "hash_match": False, "err": "spark error: boom"}


def _history(tmp_path, rounds: dict[int, dict[str, dict]]) -> str:
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    return str(tmp_path)


def test_every_key_has_an_oracle_in_the_same_order():
    qs, oracles = entry.queries(), entry.oracle_sql()
    assert len(qs) == 179
    assert list(qs) == list(oracles)


def test_duplicate_key_raises_and_keeps_the_first():
    first = _QUERIES["q1_pricing"]
    with pytest.raises(ValueError, match="q1_pricing"):
        _q("q1_pricing")(lambda spark, sf_dir: None)
    assert _QUERIES["q1_pricing"] is first


def test_queries_follow_the_history_beside_the_entry():
    keys = list(entry.queries())
    newest = entry._green_rounds(
        os.path.dirname(entry.__file__), entry.oracle_sql()
    )
    rounds = [newest.get(k, 0) for k in keys]
    assert rounds == sorted(rounds)


def test_never_green_first_then_oldest_green(tmp_path):
    d = _history(tmp_path, {3: {"b": HASH, "c": RED}, 5: {"a": HASH}})
    keys = ["a", "b", "c", "d"]
    assert entry._order(keys, set(keys), d) == ["c", "d", "b", "a"]


def test_rows_only_rows_count_only_without_an_oracle(tmp_path):
    d = _history(tmp_path, {
        2: {"hashed": HASH},
        4: {"oracle": ROWS_ONLY, "no_oracle": ROWS_ONLY},
        6: {"errored": dict(ROWS_ONLY, err="duckdb error: x")},
    })
    keys = ["no_oracle", "hashed", "errored", "oracle"]
    order = entry._order(keys, {"hashed", "oracle"}, d)
    assert order == ["errored", "oracle", "hashed", "no_oracle"]


def test_ties_sort_by_name(tmp_path):
    d = _history(tmp_path, {7: {"zeta": HASH, "alpha": HASH, "mid": HASH}})
    keys = ["zeta", "mid", "alpha"]
    assert entry._order(keys, set(keys), d) == ["alpha", "mid", "zeta"]


def test_no_history_gives_name_order(tmp_path):
    keys = ["b", "c", "a"]
    assert entry._order(keys, set(keys), str(tmp_path)) == ["a", "b", "c"]
