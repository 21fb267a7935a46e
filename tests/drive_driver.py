"""Simulate the spark-graft driver: entry() smoke + full queries()/
oracle_sql() contract at sf0.01 (per .claude/skills/verify/SKILL.md).
Writes per-query results to /tmp/drive_driver_results.json.

Usage: python tests/drive_driver.py [query ...]
With names, runs only those queries; an unknown name exits non-zero
before Spark starts.  Exits non-zero when any query FAILs.
"""
import hashlib
import json
import os
import sys
import time

import duckdb
import pandas as pd

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for col in df.columns:
        s = df[col]
        if s.dtype == object:
            vals = [str(v) for v in s.tolist()]
        else:
            vals = [repr(round(v, 6)) if isinstance(v, float) else repr(v) for v in s.tolist()]
        h.update(("\x00".join(vals)).encode())
    return h.hexdigest()


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    qs = entry.queries()
    oracles = entry.oracle_sql()
    if len(sys.argv) > 1:  # optional name filter: exact names only
        keep = set(sys.argv[1:])
        if keep - set(qs):
            sys.exit(f"unknown query names: {' '.join(sorted(keep - set(qs)))}")
        qs = {n: f for n, f in qs.items() if n in keep}

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .appName("drive-driver")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = entry.entry(spark).collect()
    print(f"entry: {len(rows)} rows", flush=True)
    assert len(rows) >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    results = {}
    n_match = n_rows_only = n_fail = 0
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            results[name] = {"status": "SPARK_ERR", "err": str(e)[:300]}
            n_fail += 1
            print(f"{name}: SPARK_ERR {str(e)[:120]}", flush=True)
            continue
        if name not in oracles:
            results[name] = {"status": "rows-only", "rows": len(sdf)}
            n_rows_only += 1
            print(f"{name}: rows-only ({len(sdf)})", flush=True)
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = {"status": "ORACLE_ERR", "err": str(e)[:300]}
            n_fail += 1
            print(f"{name}: ORACLE_ERR {str(e)[:120]}", flush=True)
            continue
        s, o = norm(sdf), norm(odf)
        rows_ok = len(s) == len(o)
        cols_ok = list(s.columns) == list(o.columns)
        # schema compare like the driver: same columns AND compatible
        # dtype kinds per column (int/uint fold together; duckdb may
        # return a wider numeric than Spark, so kinds not exact types)
        kind = lambda d: {"i": "i", "u": "i", "f": "f", "b": "b"}.get(
            d.kind, "O"
        )
        schema_ok = cols_ok and all(
            kind(s[c].dtype) == kind(o[c].dtype) for c in s.columns
        )
        # round floats to 6 dp on both sides before hashing
        for df in (s, o):
            for c in df.columns:
                if df[c].dtype.kind == "f":
                    df[c] = df[c].round(6)
        hash_ok = rows_ok and cols_ok and value_hash(s) == value_hash(o)
        ok = rows_ok and cols_ok and hash_ok
        results[name] = {
            "status": "MATCH" if ok else "MISMATCH",
            "rows": len(s),
            "oracle_rows": len(o),
            "rows_match": rows_ok,
            "cols_match": cols_ok,
            "schema_match": schema_ok,
            "hash_match": hash_ok,
            "sec": round(time.time() - t0, 2),
        }
        if ok:
            n_match += 1
        else:
            n_fail += 1
        print(f"{name}: {results[name]['status']} ({len(s)} rows, {results[name]['sec']}s)", flush=True)

    with open("/tmp/drive_driver_results.json", "w") as f:
        json.dump(results, f, indent=1)
    print(
        f"TOTAL {len(qs)} queries: {n_match} MATCH, {n_rows_only} rows-only, {n_fail} FAIL",
        flush=True,
    )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
