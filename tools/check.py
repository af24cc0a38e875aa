"""Local driver-sim: run queries() vs oracle_sql() and compare via DuckDB.

Mimics the driver's t2 correctness gate: for each query key, run the Spark
DataFrame and the DuckDB oracle SQL on the same parquet tables, then compare
row count, sorted column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified with stable float
formatting). A key also fails if it leaves a runtime SQL conf changed:
the driver runs every key in one session, so a leaked setting reaches
every key after it.

Usage:
    python tools/check.py [--sf /root/testdata/sf0.01] [key ...]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision; engines must match bit-for-bit
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


#: canonical type families used for Spark-vs-DuckDB result-type parity.
#: HUGEINT deliberately maps to its own family: DuckDB promotes SUM(int) to
#: int128, which the remote driver's hash normalizer renders differently from
#: Spark's bigint even when the values are equal — oracles must CAST.
def _duck_family(t: str) -> str:
    t = t.upper()
    if "HUGEINT" in t:
        return "hugeint"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t.startswith("TIMESTAMP"):
        return "ts"
    if t == "DATE":
        return "date"
    if t == "BOOLEAN":
        return "bool"
    if t.endswith("[]") or t.startswith("STRUCT") or t.startswith("MAP"):
        return "nested"
    return "str" if t in ("VARCHAR", "BLOB") else t.lower()


def _spark_family(t: str) -> str:
    t = t.lower()
    if t in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if t in ("float", "double"):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("timestamp"):
        return "ts"
    if t == "date":
        return "date"
    if t == "boolean":
        return "bool"
    if t.startswith(("array", "struct", "map")):
        return "nested"
    return "str" if t in ("string", "binary") else t


def type_parity_problems(
    spark_types: dict[str, str], duck_types: dict[str, str]
) -> list[str]:
    """Compare per-column type families between engines.

    Returns hard failures only: a DuckDB HUGEINT output column (always a
    portability bug — the oracle must CAST), or an int-vs-float/decimal
    family clash, which makes the stringified hash diverge on the driver
    even when it happens to collide locally.
    """
    out = []
    for col, dt in duck_types.items():
        if col not in spark_types:
            continue
        df, sf = _duck_family(dt), _spark_family(spark_types[col])
        if df == "hugeint":
            out.append(f"type {col}: duckdb HUGEINT (oracle must CAST)")
        elif {df, sf} == {"int", "float"} or {df, sf} == {"int", "decimal"}:
            out.append(f"type {col}: duckdb {dt} vs spark {spark_types[col]}")
    return out


#: confs ``catalog.load_table`` sets on purpose on whatever session it
#: is handed (a driver session may lack them), so a key may leave them set
CONF_EXEMPT = frozenset(
    ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")
)


def conf_changes(before: dict[str, str], after: dict[str, str]) -> list[str]:
    """Runtime confs that differ between two ``spark.conf.getAll`` reads."""
    return [
        f"{k}: {before.get(k)} -> {after.get(k)}"
        for k in sorted((before.keys() | after.keys()) - CONF_EXEMPT)
        if before.get(k) != after.get(k)
    ]


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--json", help="also write results to this JSON file")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as entry_mod
    from faust_spark.session import get_spark

    spark = get_spark("check")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    keys = args.keys or list(qs)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    n_pass = n_fail = 0
    results: dict[str, dict] = {}
    for key in keys:
        t0 = time.time()
        conf0 = spark.conf.getAll
        try:
            sdf = qs[key](spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {key}: spark error\n{traceback.format_exc()}")
            results[key] = {
                "status": "fail",
                "err": f"spark error: {type(e).__name__}: "
                       f"{str(e).splitlines()[0][:300] if str(e) else ''}",
            }
            n_fail += 1
            continue
        leaked = conf_changes(conf0, spark.conf.getAll)
        if leaked:
            print(f"FAIL {key}: runtime conf left changed: " + "; ".join(leaked))
            results[key] = {"status": "fail", "err": f"conf left changed: {leaked[0]}"}
            n_fail += 1
            continue
        if key not in oracles:
            print(f"okro {key}: rows-only ({len(srows)} rows) "
                  f"[{time.time()-t0:.1f}s]")
            results[key] = {"status": "rows_only", "rows": len(srows),
                            "secs": round(time.time() - t0, 1)}
            n_pass += 1
            continue
        try:
            desc = con.execute(
                f"DESCRIBE ({oracles[key].rstrip().rstrip(';')})"
            ).fetchall()
            duck_types = {r[0]: r[1] for r in desc}
            cur = con.execute(oracles[key])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL {key}: duckdb error\n{traceback.format_exc()}")
            results[key] = {
                "status": "fail",
                "err": f"duckdb error: {type(e).__name__}: "
                       f"{str(e).splitlines()[0][:300] if str(e) else ''}",
            }
            n_fail += 1
            continue
        problems = []
        spark_types = {
            f.name: f.dataType.simpleString() for f in sdf.schema.fields
        }
        problems.extend(type_parity_problems(spark_types, duck_types))
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        if not problems:
            sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
            if sh != oh:
                problems.append(f"hash {sh} != {oh}")
                # show first differing rows for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                a = sorted("|".join(norm_cell(r[i]) for i in order_s) for r in srows)
                b = sorted("|".join(norm_cell(r[i]) for i in order_o) for r in orows)
                for x, y in zip(a, b):
                    if x != y:
                        problems.append(f"  spark: {x}\n  duck : {y}")
                        break
        if problems:
            print(f"FAIL {key}: " + "; ".join(problems[:3]))
            results[key] = {"status": "fail", "err": problems[0]}
            n_fail += 1
        else:
            print(f"PASS {key} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            results[key] = {"status": "pass", "rows": len(srows), "hash": sh,
                            "secs": round(time.time() - t0, 1)}
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    if args.json:
        import json

        with open(args.json, "w") as fh:
            json.dump(
                {"sf": args.sf, "passed": n_pass, "failed": n_fail,
                 "results": results},
                fh,
                indent=1,
            )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
