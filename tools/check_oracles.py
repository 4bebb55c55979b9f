#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
the same sf, then compare row count, column names, and order-insensitive
values.

Usage:
    python tools/check_oracles.py                 # all queries @ sf0.01
    python tools/check_oracles.py o14_asof_pad    # one query
    python tools/check_oracles.py --sf /root/testdata/sf0.001 q1_pricing_summary
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import os
import sys
import tempfile
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from multi_sensor_data_pipeline_for_robotics__spark import get_session
from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import TABLES


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _normalize(rows, cols):
    out = []
    for r in rows:
        out.append(tuple(_norm_cell(v) for v in (r[c] for c in cols)))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def compare(name, spark_df, duck_rows, duck_cols):
    scols = sorted(spark_df.columns)
    dcols = sorted(duck_cols)
    problems = []
    if [c.lower() for c in scols] != [c.lower() for c in dcols]:
        problems.append(f"schema mismatch: spark={scols} duck={dcols}")
        return problems
    srows = [r.asDict() for r in spark_df.collect()]
    drows = [dict(zip(duck_cols, r)) for r in duck_rows]
    if len(srows) != len(drows):
        problems.append(f"row count mismatch: spark={len(srows)} duck={len(drows)}")
    sn = _normalize(srows, scols)
    dn = _normalize(drows, dcols)
    n_bad = 0
    for i, (a, b) in enumerate(zip(sn, dn)):
        if a != b:
            # distinguish float near-miss from real mismatch
            close = len(a) == len(b) and all(
                (x == y)
                or (
                    isinstance(x, float)
                    and isinstance(y, float)
                    and abs(x - y) <= 1e-9 * max(1.0, abs(x), abs(y))
                )
                for x, y in zip(a, b)
            )
            tag = "FLOAT-NEAR-MISS" if close else "VALUE-DIFF"
            if n_bad < 3:
                problems.append(f"{tag} row {i}:\n  spark={a}\n  duck ={b}")
            n_bad += 1
    if n_bad:
        problems.append(f"total differing rows: {n_bad}/{len(sn)}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    spark = get_session(app_name="check_oracles")
    # the oracles' spill files go to a private temp dir removed at exit,
    # not to DuckDB's default .tmp/ under the working directory;
    # compare() sorts both sides, so DuckDB need not keep insertion
    # order, which costs it memory on large results
    spill = tempfile.TemporaryDirectory(prefix="check_oracles_duckdb_")
    con = duckdb.connect(
        config={"temp_directory": spill.name, "preserve_insertion_order": False}
    )
    try:
        n_fail = _check_all(spark, con, args)
    finally:
        con.close()
        spill.cleanup()
    sys.exit(1 if n_fail else 0)


def _check_all(spark, con, args) -> int:
    """Run the named queries and their oracles; return the number that
    failed."""
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(qs)
    n_pass = n_fail = n_skipped = 0
    for name in names:
        if name not in qs:
            print(f"[{name}] UNKNOWN query")
            n_fail += 1
            continue
        try:
            sdf = qs[name](spark, args.sf)
        except Exception as e:
            print(f"[{name}] SPARK ERROR: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            n = sdf.count()
            print(f"[{name}] rows-only (no oracle): {n} rows")
            n_skipped += 1
            continue
        try:
            res = con.execute(oracles[name])
            duck_rows = res.fetchall()
            duck_cols = [d[0] for d in res.description]
        except Exception as e:
            print(f"[{name}] DUCKDB ERROR: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, duck_rows, duck_cols)
        if problems:
            print(f"[{name}] FAIL")
            for p in problems:
                print(f"    {p}")
            n_fail += 1
        else:
            print(f"[{name}] OK ({len(duck_rows)} rows)")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_fail} fail, {n_skipped} rows-only")
    return n_fail


if __name__ == "__main__":
    main()
