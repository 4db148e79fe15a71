#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 and compares it against the
matching ``oracle_sql()`` via DuckDB: row count, schema (column names),
and exact order-insensitive value equality (stricter than any hash).

Usage: python tools/verify_local.py [--sf-dir DIR] [pattern ...]

Each pattern is an ``fnmatch`` glob over entry names, so
``python tools/verify_local.py hypercube reference_native_path 'dedup_*'``
runs exactly those families; no pattern runs the whole battery.
"""

from __future__ import annotations

import argparse
import fnmatch
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(rows, columns):
    """Sort columns by name, rows by value — order-insensitive compare."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm_cell(v):
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            return ("f", repr(v))
        if v is None:
            return ("n",)
        if hasattr(v, "isoformat"):
            return ("t", v.isoformat())
        if isinstance(v, (list, tuple)):
            return ("l", tuple(norm_cell(x) for x in v))
        return (type(v).__name__[0], v)

    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def compare_one(name, fn, sql, spark, con):
    t0 = time.monotonic()
    df = fn(spark, args.sf_dir)
    spark_rows = [tuple(r) for r in df.collect()]
    spark_cols = df.columns
    t_spark = time.monotonic() - t0

    t0 = time.monotonic()
    duck = con.execute(sql)
    duck_cols = [d[0] for d in duck.description]
    duck_rows = duck.fetchall()
    t_duck = time.monotonic() - t0

    problems = []
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"columns {sorted(spark_cols)} != {sorted(duck_cols)}")
    if len(spark_rows) != len(duck_rows):
        problems.append(f"rows {len(spark_rows)} != {len(duck_rows)}")
    if not problems:
        a = normalize(spark_rows, spark_cols)
        b = normalize(duck_rows, duck_cols)
        if a != b:
            n_bad = sum(x != y for x, y in zip(a, b))
            first = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), -1)
            problems.append(
                f"values differ in {n_bad}/{len(a)} rows; first at {first}:\n"
                f"    spark={a[first] if first >= 0 else None}\n"
                f"    duck ={b[first] if first >= 0 else None}"
            )
    status = "OK  " if not problems else "FAIL"
    print(
        f"{status} {name:28s} rows={len(spark_rows):7d} "
        f"spark={t_spark:5.1f}s duck={t_duck:4.1f}s"
    )
    for p in problems:
        print(f"     {p}")
    return not problems


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("patterns", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from implementation_of_an_etl_process_spark import get_spark

    spark = get_spark("verify-local")
    con = duck_connection(args.sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    patterns = args.patterns or ["*"]
    for p in patterns:
        if not fnmatch.filter(qs, p):
            print(f"SKIP {p}: matches nothing in queries()")
    names = [n for n in qs if any(fnmatch.fnmatchcase(n, p) for p in patterns)]

    n_ok = n_fail = 0
    for name in names:
        try:
            ok = compare_one(name, qs[name], oracles[name], spark, con)
        except Exception:
            print(f"FAIL {name}: exception\n{traceback.format_exc()}")
            ok = False
        n_ok += ok
        n_fail += not ok
    print(f"\n{n_ok} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)
