#!/usr/bin/env python
"""Local simulation of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() in DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive exact values with
columns sorted by name (the driver hashes after a sort-by-column-name,
and its hash is TYPE-sensitive — so ints must be ints on both sides).

Usage: python scripts/driver_gate.py [sf_dir] [entry ...]
"""

from __future__ import annotations

import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    # exact compare, but unify engine-native wrappers
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", v)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (datetime, date)):
        return ("t", str(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_norm(x) for x in v))
    return (type(v).__name__, v)


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def main() -> int:
    import duckdb

    import __spark_entry__ as em
    from ironspark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("driver-gate", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = em.queries()
    oracles = em.oracle_sql()
    n_fail = 0
    for name in sorted(queries):
        if only and name not in only:
            continue
        try:
            sdf = queries[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows (no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {e}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns {scols} != {dcols}")
        if len(srows) != len(drows):
            problems.append(f"rowcount {len(srows)} != {len(drows)}")
        if not problems:
            a, b = _canon(scols, srows), _canon(dcols, drows)
            if a != b:
                mism = [(x, y) for x, y in zip(a, b) if x != y][:2]
                problems.append(f"values differ, first: {mism}")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"OK   {name}: {len(srows)} rows")
    print(f"\n{'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
