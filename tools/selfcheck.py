"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare
row count, column names, and the order-insensitive value multiset.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


def norm_cell(v):
    if v is None:
        return None
    # Decimal must normalize THROUGH the same float rounding as floats:
    # one engine returning Decimal('0.3') against the other's 0.3 would
    # otherwise compare unequal in Python despite numeric equality.
    # (The absolute 9-dp rounding mirrors the driver's gate — keep in
    # lockstep with it; looser local tolerance would hide driver FAILs.)
    import decimal

    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def norm_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("selfcheck")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
            srows = [tuple(r) for r in srows]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            ores = con.sql(oracles[name])
            ocols = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok = True
        if len(srows) != len(orows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duckdb={len(orows)}")
            ok = False
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duckdb={sorted(ocols)}")
            ok = False
        if ok:
            a = norm_rows(srows, scols)
            b = norm_rows(orows, ocols)
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"FAIL {name}: values differ; first diffs: {diff}")
                ok = False
        if ok:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)

    print(f"\n{'ALL PASS' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
