#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs graft.Verify output (parquet per query + oracle_sql.json) against
DuckDB over the same sf parquet tables; compares row count, column names
(sorted), and value-hash like the driver does.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [query ...]

With no query names every query in oracle_sql.json is checked. With names
(as after `graft.Verify <sfDir> <outDir> <query ...>`) exactly those are
checked; a named query with no oracle or no dump dir is a FAIL. Any FAIL
exits 1.
"""
import sys, os, json, hashlib
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes: timestamps → iso str, floats → repr w/ rounding
    out = pd.DataFrame()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.round(6).astype(str)
        else:
            out[c] = s.astype(str)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return hashlib.sha256(out.to_csv(index=False).encode()).hexdigest()

def main(sf_dir, out_dir, only=()):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(set(only) if only else oracle):
        spark_path = f"{out_dir}/{name}"
        if name not in oracle or not os.path.isdir(spark_path):
            what = "no oracle" if name not in oracle else "no dump dir"
            print(f"FAIL {name}: {what}")
            n_fail += 1
            continue
        sql = oracle[name]
        try:
            got = con.sql(f"SELECT * FROM '{spark_path}/*.parquet'").df()
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        ok_rows = len(got) == len(want)
        ok_cols = sorted(got.columns) == sorted(want.columns)
        ok_hash = ok_rows and ok_cols and canon(got) == canon(want)
        if ok_hash:
            print(f"PASS {name}: rows={len(got)}")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows {len(got)} vs {len(want)}, "
                  f"cols {sorted(got.columns)} vs {sorted(want.columns)}, hash={ok_hash}")
            if ok_rows and ok_cols:
                g = got.reindex(sorted(got.columns), axis=1).sort_values(by=sorted(got.columns)).reset_index(drop=True)
                w = want.reindex(sorted(want.columns), axis=1).sort_values(by=sorted(want.columns)).reset_index(drop=True)
                for c in g.columns:
                    if canon(g[[c]]) != canon(w[[c]]):
                        diff = g[c].astype(str) != w[c].astype(str)
                        print(f"  col {c}: first diffs:\n{pd.concat([g[c][diff], w[c][diff]], axis=1).head(3)}")
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
