"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at a given sf, compare
row count, sorted column names, and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package from this checkout too
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

import duckdb  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize_cell(v):
    # deliberately mirrors the DRIVER's comparator (round to 9 decimals,
    # repr) — do not "improve" the tolerance here: diverging from the
    # gate would make local green meaningless. Queries must avoid -0.0
    # and >1e-9 accumulation noise instead (alias/round in BOTH engines).
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(normalize_cell(x) for x in v)
    return v


def as_multiset(rows, cols):
    from collections import Counter

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(normalize_cell(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from invoice_anomaly_detection_sieve_spark.plans.queries import ORACLES, QUERIES
    from invoice_anomaly_detection_sieve_spark.session import get_spark

    # a misspelled query name would match nothing, check nothing, and
    # exit 0 ("0 failures") — a false green from the correctness gate
    unknown = only - set(QUERIES)
    if unknown:
        print(f"UNKNOWN query names: {sorted(unknown)}; known: {sorted(QUERIES)}")
        sys.exit(2)

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    failures = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL {name}: spark error {str(e)[:300]}")
            continue
        sql = ORACLES.get(name)
        if sql is None:
            print(f"SKIP {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL {name}: duckdb error {str(e)[:300]}")
            continue

        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if not problems:
            ms, md = as_multiset(srows, scols), as_multiset(drows, dcols)
            if ms != md:
                diff_s = list((ms - md).items())[:3]
                diff_d = list((md - ms).items())[:3]
                problems.append(f"values spark-only={diff_s} duck-only={diff_d}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(p[:400] for p in problems)}")
        else:
            print(f"OK   {name} ({len(srows)} rows)")

    print(f"\n{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
