#!/usr/bin/env python3
"""Result equivalence of two oracle SQL dumps, key by key, in DuckDB.

Usage:
    python3 tools/oracle_equiv.py OLD NEW SFDIR [SFDIR ...]

OLD and NEW are `oracle_sql.json` files (or Verify output dirs holding
one); Verify writes the full file even for a GRAFT_VERIFY_QUERIES subset,
so a one-query Verify run of each tree is enough. SFDIR holds the parquet
tables Verify reads. Every key whose SQL text differs between the two
dumps runs under both versions on each SFDIR, and the results are
compared after compare_local's canonicalization (`canon`) plus an exact
column-order check. One line per key and sf:

    identical   both ran, same columns and cells
    differ      both ran, results differ
    same-error  both failed with the same DuckDB error
    new-error   NEW failed where OLD ran, or failed with another error
    fixed       OLD failed, NEW ran

Keys with identical text are counted, not run; a key present in only one
dump is reported as added/removed. Exit status 1 on any differ,
new-error, added or removed key; 0 otherwise.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from compare_local import canon, connect  # noqa: E402


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "oracle_sql.json")
    with open(path) as f:
        return json.load(f)


def run(con, sql):
    t0 = time.perf_counter()
    try:
        return con.execute(sql).df(), None, time.perf_counter() - t0
    except Exception as e:
        return None, str(e).splitlines()[0], time.perf_counter() - t0


def verdict(old, new):
    (odf, oerr, _), (ndf, nerr, _) = old, new
    if oerr is not None and nerr is not None:
        return ("same-error", oerr) if oerr == nerr else ("new-error", f"{oerr} -> {nerr}")
    if oerr is not None:
        return "fixed", oerr
    if nerr is not None:
        return "new-error", nerr
    if list(odf.columns) != list(ndf.columns):
        return "differ", f"columns {list(odf.columns)} -> {list(ndf.columns)}"
    if len(odf) != len(ndf):
        return "differ", f"rows {len(odf)} -> {len(ndf)}"
    co, cn = canon(odf), canon(ndf)
    if co.equals(cn):
        return "identical", ""
    for c in co.columns:
        m = co[c] != cn[c]
        if m.any():
            i = m.idxmax()
            return "differ", f"col={c} row={i} old={co[c][i]!r} new={cn[c][i]!r}"
    return "differ", "dtype"


def main():
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    sfs = sys.argv[3:]
    bad = []
    for k in sorted(set(old) - set(new)):
        print(f"removed     {k}")
        bad.append(k)
    for k in sorted(set(new) - set(old)):
        print(f"added       {k}")
        bad.append(k)
    changed = sorted(k for k in set(old) & set(new) if old[k] != new[k])
    print(f"keys: {len(set(old) & set(new))}  same text: "
          f"{len(set(old) & set(new)) - len(changed)}  changed text: {len(changed)}")
    counts = {}
    for sf in sfs:
        con = connect(sf)
        t_old = t_new = 0.0
        for k in changed:
            o, n = run(con, old[k]), run(con, new[k])
            t_old, t_new = t_old + o[2], t_new + n[2]
            v, detail = verdict(o, n)
            counts[v] = counts.get(v, 0) + 1
            if v in ("differ", "new-error"):
                bad.append(f"{k}@{sf}")
            print(f"{v:<11} {k:<28} {os.path.basename(sf.rstrip('/'))} "
                  f"old={o[2]:.2f}s new={n[2]:.2f}s {detail}")
        print(f"[{sf}] DuckDB time over changed keys: old={t_old:.2f}s new={t_new:.2f}s")
        con.close()
    print("summary: " + "  ".join(f"{v}={c}" for v, c in sorted(counts.items())))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
