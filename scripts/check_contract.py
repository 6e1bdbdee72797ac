"""Local mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB, compare row count, column
names, and order-insensitive values.

Usage: python scripts/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from ecokg_spark.contract import ORACLES, QUERIES
from ecokg_spark.session import get_spark

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # full precision — mismatch means real divergence
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_to_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return out


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    unknown = sorted(only - set(QUERIES))
    if unknown:
        sys.exit(f"unknown query name(s): {', '.join(unknown)}")
    spark = get_spark(master=os.environ.get("CHECK_MASTER", "local[8]"),
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{sf}/{tbl}.parquet'")

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"[FAIL-spark] {name}: {str(e)[:300]}")
            continue
        try:
            res = con.execute(ORACLES[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"[FAIL-duckdb] {name}: {str(e)[:300]}")
            continue
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_count = len(s_rows) == len(d_rows)
        ok_vals = ok_cols and ok_count and rows_to_set(s_cols, s_rows) == rows_to_set(d_cols, d_rows)
        if ok_vals:
            print(f"[OK] {name}: {len(s_rows)} rows")
        else:
            msg = (f"cols {sorted(s_cols)} vs {sorted(d_cols)}; "
                   f"rows {len(s_rows)} vs {len(d_rows)}")
            if ok_cols and ok_count:
                a = rows_to_set(s_cols, s_rows)
                b = rows_to_set(d_cols, d_rows)
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                msg += f"; first diffs {diff}"
            failures.append((name, msg))
            print(f"[FAIL] {name}: {msg[:500]}")
    print(f"\n{len(failures)} failures / {len(only) if only else len(QUERIES)} queries")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
