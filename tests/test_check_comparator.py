"""Meta-tests for the oracle comparator (tools/check.py).

Every correctness claim in the repo flows through table_hash /
norm_cell / type_parity_problems — if the comparator silently passed
differing results, 178 green gates would mean nothing. These tests pin
its discriminating power (wrong value / extra row / cross-row swap all
change the hash) AND its intended insensitivities (row order, column
order under name-sorting, -0.0 vs 0.0 handled by repr).
"""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools")
)

from check import (  # noqa: E402
    conf_changes,
    norm_cell,
    table_hash,
    type_parity_problems,
)


def test_hash_insensitive_to_row_and_column_order():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y")]
    # same table, columns pre-sorted differently and rows reversed
    assert table_hash(cols, rows) == table_hash(
        ["a", "b"], [("y", 2), ("x", 1)]
    )


def test_hash_detects_value_change_row_add_and_swap():
    cols = ["a", "b"]
    base = table_hash(cols, [(1, 10), (2, 20)])
    assert table_hash(cols, [(1, 11), (2, 20)]) != base  # value edit
    assert table_hash(cols, [(1, 10), (2, 20), (3, 30)]) != base  # row
    # cross-row value swap keeps every column multiset identical —
    # the per-ROW join of cells is what catches it
    assert table_hash(cols, [(1, 20), (2, 10)]) != base


def test_hash_detects_null_vs_zero_and_float_precision():
    cols = ["v"]
    assert table_hash(cols, [(None,)]) != table_hash(cols, [(0,)])
    # full-precision repr: 0.1 + 0.2 must NOT hash like 0.3
    assert table_hash(cols, [(0.1 + 0.2,)]) != table_hash(
        cols, [(0.3,)]
    )
    # but bit-identical doubles do
    assert table_hash(cols, [(0.25,)]) == table_hash(cols, [(0.25,)])


def test_norm_cell_families():
    import datetime
    import decimal

    assert norm_cell(None) == "NULL"
    assert norm_cell(True) == "true"
    assert norm_cell(decimal.Decimal("1.5")) == norm_cell(1.5)
    assert norm_cell([1, 2]) == "[1,2]"
    assert norm_cell(float("nan")) == "NaN"
    dt = datetime.datetime(2026, 1, 2, 3, 4, 5)
    assert norm_cell(dt) == "2026-01-02T03:04:05"


def test_type_parity_flags_hugeint_vs_long():
    # DuckDB promotes SUM(int) to HUGEINT; the driver renders it
    # differently from Spark's bigint even when values match — the
    # parity check must flag it so oracles CAST explicitly.
    probs = type_parity_problems({"n": "bigint"}, {"n": "HUGEINT"})
    assert probs, "HUGEINT vs bigint must be reported"
    assert not type_parity_problems({"n": "bigint"}, {"n": "BIGINT"})
    # int-vs-float family clash diverges on the driver's stringifier
    assert type_parity_problems({"n": "bigint"}, {"n": "DOUBLE"})


def test_conf_changes_names_set_changed_and_unset_confs_but_not_exempt():
    before = {"spark.sql.shuffle.partitions": "4", "a": "1", "b": "x"}
    after = {"spark.sql.shuffle.partitions": "4", "a": "2", "c": "y",
             "spark.sql.session.timeZone": "UTC",
             "spark.sql.legacy.parquet.nanosAsLong": "true"}
    assert conf_changes(before, after) == [
        "a: 1 -> 2", "b: x -> None", "c: None -> y"]
    assert conf_changes(before, dict(before)) == []
