"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB over the same parquet,
then compare row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
A query name that is not registered exits 2 before any query runs.
Each OK line also gives the Spark build + collect seconds of its query.
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    return str(v)


def norm_rows(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = sorted(only - qs.keys())
    if unknown:
        print(f"unknown query name(s): {', '.join(unknown)}")
        sys.exit(2)

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    failures = []
    for name, builder in qs.items():
        if only and name not in only:
            continue
        try:
            t0 = time.perf_counter()
            sdf = builder(spark, sf_dir)
            srows = sdf.collect()
            spark_s = time.perf_counter() - t0
            scols = sdf.columns
        except Exception as e:
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"  {name}: SPARK ERROR {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"  {name}: rows-only ({len(srows)} rows, spark {spark_s:.2f} s) OK")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"  {name}: DUCKDB ERROR {str(e)[:300]}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append((name, f"COLS spark={sorted(scols)} duck={sorted(ocols)}"))
            print(f"  {name}: COLS MISMATCH {sorted(scols)} vs {sorted(ocols)}")
            continue
        if len(srows) != len(orows):
            failures.append((name, f"ROWS {len(srows)} vs {len(orows)}"))
            print(f"  {name}: ROWCOUNT MISMATCH {len(srows)} vs {len(orows)}")
            continue
        sn = norm_rows(scols, [tuple(r) for r in srows])
        on = norm_rows(ocols, orows)
        if sn != on:
            bad = next(i for i in range(len(sn)) if sn[i] != on[i])
            failures.append((name, f"VALUES first diff at {bad}:\n  S={sn[bad]}\n  D={on[bad]}"))
            print(f"  {name}: VALUE MISMATCH ({len(srows)} rows) first diff:\n    S={sn[bad]}\n    D={on[bad]}")
            continue
        print(f"  {name}: OK ({len(srows)} rows, spark {spark_s:.2f} s)")

    print()
    if failures:
        print(f"{len(failures)} FAILURES")
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
