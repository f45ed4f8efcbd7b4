#!/usr/bin/env python3
"""Local dev check that mimics the driver's DuckDB-oracle compare:
run each oracle SQL in DuckDB over the sf parquet tables, load the
Spark result parquet, sort columns by name + rows, and diff values.

With a second Verify dump (e.g. the parent commit's), also diff the
two dumps: result directories present on only one side, oracle_sql.json
entries whose text differs, and result sets that differ under the same
canonicalization with exact equality (this also covers the rows-only
gates, whose DuckDB compare checks only the row count).

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [<otherVerifyOutDir>]
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

sf_dir, out_dir = sys.argv[1], sys.argv[2]
other_dir = sys.argv[3] if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.isfile(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    elif os.path.isdir(p):  # Spark writes a directory of part files
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

def load(result_dir):
    parts = glob.glob(f"{result_dir}/*.parquet")
    return pd.concat([pd.read_parquet(f) for f in parts],
                     ignore_index=True) if parts else pd.DataFrame()

def results(dump):
    return {os.path.basename(d.rstrip("/")): d for d in glob.glob(f"{dump}/*/")}

fail, ok, rows_only = [], [], []
for qname, name in sorted(results(out_dir).items()):
    spark_df = load(name)
    if qname not in oracle:
        rows_only.append((qname, len(spark_df)))
        continue
    try:
        oracle_df = con.execute(oracle[qname]).fetchdf()
    except Exception as e:
        fail.append((qname, f"oracle SQL error: {e}"))
        continue
    a, b = canon(spark_df), canon(oracle_df)
    if list(a.columns) != list(b.columns):
        fail.append((qname, f"schema: spark={list(a.columns)} oracle={list(b.columns)}"))
        continue
    # the driver's gate hashes VALUES WITH TYPES: an int64 Spark column vs a
    # DuckDB HUGEINT-materialized-as-float64 oracle column fails its hash even
    # when every value is numerically identical — and per round-5 adjudication
    # int32 vs int64 fails it too, so require exact dtype equality for
    # numeric columns (object columns are stringified by canon)
    # datetime64 resolution (ns from parquet vs us from DuckDB) is
    # normalized by the driver's hash (q_gap_fill was green in r05)
    dt_bad = [c for c in a.columns
              if a[c].dtype != b[c].dtype
              and not (a[c].dtype == object and b[c].dtype == object)
              and not (a[c].dtype.kind == "M" and b[c].dtype.kind == "M")]
    if dt_bad:
        fail.append((qname, "dtype: " + ", ".join(
            f"{c} spark={a[c].dtype} oracle={b[c].dtype}" for c in dt_bad)))
        continue
    if len(a) != len(b):
        fail.append((qname, f"rows: spark={len(a)} oracle={len(b)}"))
        continue
    mismatch = None
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(b[c].dtype, np.floating):
            bad = ~(np.isclose(av.astype(float), bv.astype(float), rtol=0, atol=1e-9) |
                    (pd.isna(av) & pd.isna(bv)))
        else:
            bad = ~((av == bv) | (pd.isna(av) & pd.isna(bv)))
        if bad.any():
            i = int(np.argmax(bad))
            mismatch = f"col {c}: row{i} spark={av[i]!r} oracle={bv[i]!r} ({int(bad.sum())} bad)"
            break
    if mismatch: fail.append((qname, mismatch))
    else: ok.append(qname)

print(f"OK ({len(ok)}):", " ".join(ok))
print(f"ROWS-ONLY ({len(rows_only)}):", " ".join(f"{q}={n}" for q, n in rows_only))
print(f"FAIL ({len(fail)}):")
for q, m in fail: print(f"  {q}: {m}")

diff = []
if other_dir:
    mine, theirs = results(out_dir), results(other_dir)
    for q in sorted(mine.keys() ^ theirs.keys()):
        diff.append((q, f"result only in {out_dir if q in mine else other_dir}"))
    other_oracle = json.load(open(f"{other_dir}/oracle_sql.json"))
    for q in sorted(oracle.keys() | other_oracle.keys()):
        if oracle.get(q) != other_oracle.get(q):
            diff.append((q, "oracle_sql.json text differs" if q in oracle and q in other_oracle
                         else f"oracle only in {out_dir if q in oracle else other_dir}"))
    for q in sorted(mine.keys() & theirs.keys()):
        a, b = canon(load(mine[q])), canon(load(theirs[q]))
        if not a.equals(b):
            why = (f"schema {list(a.columns)} vs {list(b.columns)}" if list(a.columns) != list(b.columns)
                   else f"dtypes {dict(a.dtypes)} vs {dict(b.dtypes)}" if not a.dtypes.equals(b.dtypes)
                   else f"rows {len(a)} vs {len(b)}" if len(a) != len(b)
                   else "values differ in " + ", ".join(c for c in a.columns if not a[c].equals(b[c])))
            diff.append((q, f"result differs: {why}"))
    print(f"DUMP DIFF vs {other_dir} ({len(diff)}), {len(mine)} vs {len(theirs)} results:")
    for q, m in diff: print(f"  {q}: {m}")
sys.exit(1 if fail or diff else 0)
