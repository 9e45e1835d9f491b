"""Local replica of the driver's t2 correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values.

Usage: python tools/oracle_check.py [sf_dir] [query ...]

A FULL run (no query filter) also writes CORRECTNESS_local.json — one row per
query, same shape as the driver's CORRECTNESS_r{N}.json — so the complete
133+-query record is a committed artifact (the driver's file caps at q50).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

# the checkout this script lives in, whichever copy that is
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64").round(9)
        elif str(df[c].dtype).lower().startswith(("int", "uint")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from polars_net_spark import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, osql = e.queries(), e.oracle_sql()
    n_pass = n_fail = 0
    record: dict[str, dict] = {}

    def rec(name, *, rows_match=None, schema_match=None, hash_match=None,
            spark_rows=None, oracle_rows=None, err=None, rows_only=False):
        record[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
            **({"rows_only": True} if rows_only else {}),
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
            from polars_net_spark import release_caches

            release_caches()
        except Exception as ex:
            print(f"FAIL {name}: spark error {type(ex).__name__}: {str(ex)[:300]}")
            rec(name, err=f"spark {type(ex).__name__}: {str(ex)[:200]}")
            n_fail += 1
            continue
        if name not in osql:
            print(f"okRO {name}: rows={len(spark_pdf)} (rows-only, {time.time()-t0:.1f}s)")
            rec(name, spark_rows=len(spark_pdf), rows_only=True)
            n_pass += 1
            continue
        try:
            duck_pdf = con.execute(osql[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error {type(ex).__name__}: {str(ex)[:300]}")
            rec(name, spark_rows=len(spark_pdf),
                err=f"duckdb {type(ex).__name__}: {str(ex)[:200]}")
            n_fail += 1
            continue
        a, b = normalize(spark_pdf.copy()), normalize(duck_pdf.copy())
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            rec(name, rows_match=len(a) == len(b), schema_match=False,
                hash_match=False, spark_rows=len(a), oracle_rows=len(b))
            n_fail += 1
            continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            rec(name, rows_match=False, schema_match=True, hash_match=False,
                spark_rows=len(a), oracle_rows=len(b))
            n_fail += 1
            continue
        try:
            # exact: the driver hashes values, so "close" is not good enough
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            print(f"ok   {name}: rows={len(a)} ({time.time()-t0:.1f}s)")
            rec(name, rows_match=True, schema_match=True, hash_match=True,
                spark_rows=len(a), oracle_rows=len(b))
            n_pass += 1
        except AssertionError as ex:
            print(f"FAIL {name}: value mismatch: {str(ex)[:400]}")
            rec(name, rows_match=True, schema_match=True, hash_match=False,
                spark_rows=len(a), oracle_rows=len(b),
                err=f"value mismatch: {str(ex)[:200]}")
            n_fail += 1
    if not only:  # full sweep -> committed artifact
        import json

        with open(os.path.join(ROOT, "CORRECTNESS_local.json"), "w") as f:
            json.dump(record, f, indent=2)
        print(f"wrote CORRECTNESS_local.json ({len(record)} queries)")
    print(f"\n{n_pass} ok, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
