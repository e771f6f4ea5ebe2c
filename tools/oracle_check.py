#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the fixture parquet and compare against the Spark parquet
dumps produced by graft.Verify. Columns sorted by name, rows sorted, then
exact equality per cell (with a diagnostic float-tolerance fallback).
Exits 1 when any row is FAIL (including NO_SPARK_OUTPUT and
ORACLE_SQL_ERROR), 0 otherwise."""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}
for name, sql in sorted(oracle.items()):
    spark_path = f"{out_dir}/{name}"
    if not glob.glob(f"{spark_path}/*.parquet"):
        results[name] = "NO_SPARK_OUTPUT"
        continue
    try:
        duck = con.sql(sql).df()
    except Exception as e:
        results[name] = f"ORACLE_SQL_ERROR: {e}"
        continue
    spark = con.sql(f"SELECT * FROM '{spark_path}/*.parquet'").df()
    duck = duck.reindex(sorted(duck.columns), axis=1)
    spark = spark.reindex(sorted(spark.columns), axis=1)
    if list(duck.columns) != list(spark.columns):
        results[name] = f"SCHEMA_MISMATCH: duck={list(duck.columns)} spark={list(spark.columns)}"
        continue
    if len(duck) != len(spark):
        results[name] = f"ROWCOUNT_MISMATCH: duck={len(duck)} spark={len(spark)}"
        continue
    def sortable(df):
        # array columns are unhashable for pandas sorting; stringify a copy
        key = df.copy()
        for c in key.columns:
            if key[c].dtype == object:
                key[c] = key[c].astype(str)
        return df.iloc[key.sort_values(by=list(key.columns)).index].reset_index(drop=True)
    duck = sortable(duck)
    spark = sortable(spark)
    mismatch = None
    for c in duck.columns:
        a, b = duck[c], spark[c]
        if a.dtype != b.dtype:
            mismatch = f"DTYPE[{c}]: {a.dtype} vs {b.dtype}"
            break
        if a.dtype.kind == "f":
            eq = (a.isna() & b.isna()) | (a == b)
            if not eq.all():
                close = np.isclose(a.fillna(0), b.fillna(0), rtol=1e-9, atol=1e-12)
                n_exact = int((~eq).sum())
                n_close = int((~close).sum())
                mismatch = f"FLOAT[{c}]: {n_exact} not bit-equal, {n_close} not close; ex: " + \
                    str([(x, y) for x, y, e in zip(a, b, eq) if not e][:3])
                break
        else:
            eq = (a.isna() & b.isna()) | (a.astype(object) == b.astype(object))
            if not eq.all():
                ex = [(x, y) for x, y, e in zip(a, b, eq) if not e][:3]
                mismatch = f"VAL[{c}]: {int((~eq).sum())} diff; ex: {ex}"
                break
    results[name] = mismatch or f"OK ({len(duck)} rows)"

# queries with no oracle: rows-only
all_queries = {os.path.basename(p) for p in glob.glob(f"{out_dir}/*") if os.path.isdir(p)}
for name in sorted(all_queries - set(oracle)):
    n = len(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
    results[name] = f"NO_ORACLE ({n} rows)"

ok = sum(1 for v in results.values() if v.startswith("OK"))
failed = 0
for k, v in sorted(results.items()):
    verdict = 'PASS' if v.startswith('OK') else 'INFO' if v.startswith('NO_ORACLE') else 'FAIL'
    failed += verdict == 'FAIL'
    print(f"{verdict:5} {k}: {v}")
print(f"\n{ok}/{len(oracle)} oracle-checked queries pass")
# a gate, not a report: any FAIL row (mismatch, NO_SPARK_OUTPUT,
# ORACLE_SQL_ERROR) fails the run
sys.exit(1 if failed else 0)
