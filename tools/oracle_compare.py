#!/usr/bin/env python3
"""Value-compare a graft.Verify dump against the DuckDB oracle.

Usage: python3 tools/oracle_compare.py <sfDir> <verifyOutDir>

<verifyOutDir> is what `runMain graft.Verify <sfDir> <verifyOutDir>`
wrote: one parquet directory per query plus oracle_sql.json, the DuckDB
SQL for each query. Every oracle query runs over views of the SF's
parquet tables; both sides are sorted on all columns, integer and float
columns are rounded to 6 places, and the frames are compared as text.

Writes <verifyOutDir>/oracle_status.tsv (query, status: MATCH or the
mismatch) and exits 1 when any query does not match.
"""
import json
import os
import sys

import duckdb

TABLES = ["documents", "embeddings", "lineitem", "orders", "customer",
          "supplier", "nation", "region", "part", "events"]


def normalize(df, cols):
    df = df.reindex(cols, axis=1).sort_values(cols).reset_index(drop=True)
    for c in cols:
        if df[c].dtype.kind in "fiu":
            df[c] = df[c].astype("float64").round(6)
    return df


def compare(con, name, sql, out_dir):
    o = con.execute(sql).fetchdf()
    s = con.execute(
        f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchdf()
    cols = sorted(o.columns)
    o, s = normalize(o, cols), normalize(s, cols)
    if o.shape != s.shape:
        return f"shape {o.shape} vs {s.shape}"
    differing = int((o.astype(str) != s.astype(str)).any(axis=1).sum())
    return f"{differing} differing rows" if differing else "MATCH"


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    sf_dir, out_dir = argv[1], argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    status = {}
    for name, sql in sorted(oracle.items()):
        try:
            status[name] = compare(con, name, sql, out_dir)
        except Exception as e:  # one broken query must not stop the rest
            status[name] = f"ERROR {e}".replace("\n", " ")
    with open(os.path.join(out_dir, "oracle_status.tsv"), "w") as f:
        f.writelines(f"{n}\t{st}\n" for n, st in status.items())
    bad = {n: st for n, st in status.items() if st != "MATCH"}
    print(f"{len(status) - len(bad)}/{len(status)} MATCH (values) at {sf_dir}")
    for n, st in bad.items():
        print(f"  {n}: {st}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
