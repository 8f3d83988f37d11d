"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet tables, then compares
row count, column names, and values (columns sorted by name, rows
sorted) — flagging exact mismatches and float near-misses separately.

Usage: python tools/check_correctness.py [sf_dir] [name_filter...]

A name filter keeps the operators whose name contains any of its
substrings; the summary counts only those, and a filter that keeps none
exits with status 2 before Spark starts.
"""

from __future__ import annotations

import math
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from zigchain_indexer_clickhouse_spark.catalog import TABLES  # noqa: E402
from zigchain_indexer_clickhouse_spark.session import get_spark  # noqa: E402


def normalize(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, float) and v == int(v) and abs(v) < 2**52:
        return v
    return v


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(normalize(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def values_close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    name_filter = sys.argv[2:]
    qs = entry_mod.queries()
    names = [n for n in qs
             if not name_filter or any(f in n for f in name_filter)]
    if not names:
        print(f"no operator matches {name_filter}")
        return 2
    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    oracles = entry_mod.oracle_sql()
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle — rows-only)")
            if len(srows) == 0:
                print(f"  WARN {name}: zero rows")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {str(ex).splitlines()[0]}")
            failures.append(name)
            continue
        sc, sr = canon_rows(scols, srows)
        dc, dr = canon_rows(dcols, drows)
        dt = time.time() - t0
        if sc != dc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={dc}")
            failures.append(name)
            continue
        if len(sr) != len(dr):
            print(f"FAIL  {name}: rowcount spark={len(sr)} duck={len(dr)}")
            failures.append(name)
            continue
        exact = sr == dr
        if exact:
            print(f"OK    {name}: {len(sr)} rows exact match  ({dt:.1f}s)")
            if len(sr) == 0:
                print(f"  WARN {name}: zero rows — weak test")
            continue
        # find first mismatch; classify float near-miss
        n_near = n_bad = 0
        first_bad = None
        for a, b in zip(sr, dr):
            if a == b:
                continue
            if all(values_close(x, y) for x, y in zip(a, b)):
                n_near += 1
                if first_bad is None:
                    first_bad = (a, b)
            else:
                n_bad += 1
                if first_bad is None or n_bad == 1:
                    first_bad = (a, b)
        tag = "NEAR" if n_bad == 0 else "FAIL"
        print(f"{tag}  {name}: {n_bad} hard, {n_near} float-near mismatched rows of {len(sr)}")
        print(f"      spark: {first_bad[0]}\n      duck : {first_bad[1]}")
        failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} clean "
          f"({len(qs) - len(names)} left out by the filter); "
          f"failing: {failures}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
