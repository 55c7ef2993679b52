#!/usr/bin/env python3
"""Local replica of the round driver's correctness gate, committed so the
gate is auditable even when the driver-side artifact arrives empty (it did
in rounds 6 and 8).

Usage:
    sbt -batch "runMain graft.Verify <sfDir> <outDir>"
    python3 tools/compare_local.py [sfDir] [outDir] [artifactJson]

Registers the sf parquet tables as DuckDB views, runs every SQL in
<outDir>/oracle_sql.json, loads the matching Spark parquet via
pandas.read_parquet (mirroring the driver: Spark output through pandas,
oracle output through duckdb.df()), sorts columns by name and rows by all
columns stringified, and compares cell strings. Writes a driver-format
artifact: {query: {rows_match, schema_match, hash_match, spark_rows,
oracle_rows, err}}.

This script is a DEV/CI tool (python + duckdb + pandas), not part of the
Spark library — the engine itself has no Python dependency.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
ART = sys.argv[3] if len(sys.argv) > 3 else None
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def canon(df):
    """Canonical form for the cell compare: columns sorted by name, every
    cell stringified, rows sorted by all columns."""
    df = df[sorted(df.columns)].copy()
    s = df.astype(str)
    return s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)


def connect(sf):
    """A DuckDB connection with the sf parquet tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def main():
    con = connect(SF)

    oracle = json.load(open(os.path.join(OUT, "oracle_sql.json")))
    # Mirror Verify's subset selector so a spot-compare's exit code reflects
    # only the queries actually dumped.
    subset = {q.strip() for q in os.environ.get("GRAFT_VERIFY_QUERIES", "").split(",")
              if q.strip()}
    result = {}
    fails, errs = [], []
    skipped = 0

    for name, sql in sorted(oracle.items()):
        rec = {"rows_match": False, "schema_match": False, "hash_match": False,
               "spark_rows": None, "oracle_rows": None, "err": None}
        result[name] = rec
        # Subset runs (GRAFT_VERIFY_QUERIES) dump only the changed queries:
        # check for the Spark output BEFORE paying the DuckDB oracle, so a
        # two-query spot-compare doesn't execute all ~150 oracle SQLs. In a
        # subset run a missing dump is EXPECTED (skip, don't error) — only a
        # full Verify run treats it as a failure.
        parts = sorted(glob.glob(os.path.join(OUT, name, "*.parquet")))
        if not parts:
            if subset and name not in subset:
                del result[name]
                skipped += 1
                continue
            rec["err"] = "no spark output"
            errs.append((name, rec["err"]))
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as e:
            rec["err"] = f"duckdb: {e}"
            errs.append((name, rec["err"]))
            continue
        sdf = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        so, ss = canon(odf), canon(sdf)
        rec["spark_rows"], rec["oracle_rows"] = len(ss), len(so)
        rec["schema_match"] = list(so.columns) == list(ss.columns)
        rec["rows_match"] = len(so) == len(ss)
        if not rec["schema_match"]:
            fails.append((name, f"schema: oracle={list(so.columns)} spark={list(ss.columns)}"))
            continue
        if not rec["rows_match"]:
            fails.append((name, f"rows: oracle={len(so)} spark={len(ss)}"))
            continue
        rec["hash_match"] = bool(so.equals(ss))
        if not rec["hash_match"]:
            detail = ""
            for c in so.columns:
                m = so[c] != ss[c]
                if m.any():
                    i = m.idxmax()
                    detail = f"col={c} row={i} oracle={so[c][i]!r} spark={ss[c][i]!r}"
                    break
            fails.append((name, f"hash: {detail}"))

    if ART:
        with open(ART, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)

    print(f"queries: {len(oracle) - skipped}  fails: {len(fails)}  errors: {len(errs)}"
          + (f"  skipped: {skipped} (subset run)" if skipped else ""))
    for n, m in fails:
        print("FAIL", n, m)
    for n, m in errs:
        print("ERR ", n, m)
    sys.exit(1 if (fails or errs) else 0)


if __name__ == "__main__":
    main()
