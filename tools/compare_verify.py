#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories: the `oracle_sql.json`
entries, and each query's rows sorted by all columns. For checking that
a change leaves the answers of some rows exactly as they were (run
Verify on both sides with the same query-name filter first).

Usage: python3 tools/compare_verify.py <before outDir> <after outDir>
Exit 1 if any oracle string or any row differs.
"""
import glob, json, sys
import pandas as pd

before, after = sys.argv[1], sys.argv[2]
ob = json.load(open(f"{before}/oracle_sql.json"))
oa = json.load(open(f"{after}/oracle_sql.json"))
same = True
for name in sorted(set(ob) | set(oa)):
    if ob.get(name) != oa.get(name):
        print(f"DIFF {name}: oracle_sql.json entry")
        same = False
names = sorted({p.split("/")[-2] for d in (before, after)
                for p in glob.glob(f"{d}/*/_SUCCESS")})
for name in names:
    def rows(d):
        files = sorted(glob.glob(f"{d}/{name}/*.parquet"))
        if not files:
            return None
        df = pd.concat([pd.read_parquet(f) for f in files])
        df = df[sorted(df.columns)]
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    rb, ra = rows(before), rows(after)
    ok = rb is not None and ra is not None and rb.equals(ra)
    same &= ok
    print(f"{'same' if ok else 'DIFF'} {name}: "
          f"{'-' if rb is None else len(rb)} -> {'-' if ra is None else len(ra)} rows")
print("identical" if same else "DIFFERENT")
sys.exit(0 if same else 1)
