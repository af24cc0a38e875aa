"""DuckDB references and the result comparison.

The comparison is the repo's correctness check's own: row count, column
names and the order-insensitive value hash from ``tools/check.py``.
"""

from __future__ import annotations

import duckdb

from tools.check import table_hash

from perfbench.gen import BATCH_TABLES, LOG_START


def canon(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    """What two results must share to be equal."""
    return len(rows), sorted(cols), table_hash(cols, rows)


def batch_reference(data_dir: str, oracles: dict[str, str], keys) -> dict:
    """``oracle_sql()`` over the permuted tables, one canon per key."""
    con = duckdb.connect()
    try:
        for t in BATCH_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        out = {}
        for k in keys:
            cur = con.execute(oracles[k])
            out[k] = canon([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


TABLE_SQL = """
    SELECT user_id, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM log GROUP BY user_id
"""

#: closed windows only (end at or before the last watermark), late events
#: filtered out: they are the only events before LOG_START.
WINDOW_SQL = """
    SELECT time_bucket(INTERVAL 1 MINUTE, ts) AS wstart, event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM log
    WHERE ts >= TIMESTAMP '{start}'
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL 1 MINUTE, ts) + INTERVAL 1 MINUTE
           <= TIMESTAMP '{watermark}'
"""


def stream_reference(files: list[str], shape: str, watermark=None) -> tuple:
    """The stream result over the log files a run consumed. ``watermark``
    (naive UTC datetime) is the last one the window query reported."""
    con = duckdb.connect()
    try:
        lst = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE VIEW log AS SELECT * FROM read_parquet([{lst}])")
        if shape == "table":
            sql = TABLE_SQL
        else:
            sql = WINDOW_SQL.format(start=LOG_START, watermark=watermark)
        cur = con.execute(sql)
        return canon([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()
