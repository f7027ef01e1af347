"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01; compare row count, column
names, and order-insensitive values (columns sorted by name, rows sorted).

Usage: python scripts/check_oracle.py [query ...]

A query name that ``queries()`` does not declare exits with status 2 before
anything runs.
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")
import __spark_entry__ as entrymod  # noqa: E402
from fairtracks_validator_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}"
    if v is None:
        return ""
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    only = set(sys.argv[1:])
    unknown = sorted(only - set(entrymod.queries()))
    if unknown:
        print("unknown query:", ", ".join(unknown), file=sys.stderr)
        sys.exit(2)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    spark = get_spark(master="local[8]", shuffle_partitions=8,
                      app_name="oracle-check")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, SF_DIR)
        srows = sdf.collect()
        scols = sdf.columns
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(srows)} rows  cols={scols}")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"{name:28s} ORACLE SQL ERROR: {e}")
            failures.append(name)
            continue
        sc, sr = norm_rows(scols, [tuple(r) for r in srows])
        dc, dr = norm_rows(dcols, drows)
        ok_cols = sc == dc
        ok_count = len(sr) == len(dr)
        ok_vals = sr == dr
        status = "OK" if (ok_cols and ok_count and ok_vals) else "MISMATCH"
        print(f"{name:28s} {status}  spark={len(sr)} duck={len(dr)} cols_ok={ok_cols}")
        if status != "OK":
            failures.append(name)
            if not ok_cols:
                print(f"   spark cols: {sc}\n   duck  cols: {dc}")
            if ok_cols and not ok_vals:
                diff_s = [r for r in sr if r not in set(dr)][:3]
                diff_d = [r for r in dr if r not in set(sr)][:3]
                print(f"   spark-only: {diff_s}\n   duck-only : {diff_d}")
    print("\nFAILURES:", failures or "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
