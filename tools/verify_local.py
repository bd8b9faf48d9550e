#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate.

Usage: python3 tools/verify_local.py [sfdir] [outdir] [filter]

Assumes `sbt "runMain graft.Verify <sfdir> <outdir> [filter]"` has already
produced <outdir>/<query>/ parquet dirs + <outdir>/oracle_sql.json. The
optional filter takes the same comma-separated name substrings as Verify's
and compares only the queries whose name contains one of them; without it,
every query is compared. Runs each oracle SQL in DuckDB over the raw test
tables and compares: row count, column-name set, and values (columns sorted
by name, exact compare with a tiny float tolerance fallback so we can see
*how* far off a float is).
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# split like Java's String.split(','), which drops trailing empty strings
pats = sys.argv[3].rstrip(",").split(",") if len(sys.argv) > 3 else None


def selected(name):
    return pats is None or any(p in name for p in pats)


con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = {k: v for k, v in json.load(open(f"{outdir}/oracle_sql.json")).items()
          if selected(k)}
names = sorted(d for d in os.listdir(outdir)
               if os.path.isdir(os.path.join(outdir, d)) and selected(d))

ok = fail = skipped = 0
for name in names:
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL  {name}: no parquet written"); fail += 1; continue
    got = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
    if name not in oracle:
        print(f"skip  {name}: rows-only check — {len(got)} rows")
        skipped += 1
        continue
    try:
        exp = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"FAIL  {name}: oracle SQL error: {e}"); fail += 1; continue
    problems = []
    if len(got) != len(exp):
        problems.append(f"rows {len(got)} vs {len(exp)}")
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        problems.append(f"cols {gcols} vs {ecols}")
    if not problems:
        g = got[gcols].reset_index(drop=True)
        e = exp[ecols].reset_index(drop=True)
        for c in gcols:
            gs, es = g[c], e[c]
            try:
                if gs.dtype.kind == 'f' or es.dtype.kind == 'f':
                    import numpy as np
                    bad = ~((gs.isna() & es.isna()) | (gs == es))
                    if bad.any():
                        mx = (gs[bad] - es[bad]).abs().max()
                        problems.append(f"col {c}: {bad.sum()} diffs (max abs {mx})")
                else:
                    bad = ~((gs.isna() & es.isna()) | (gs.astype(str) == es.astype(str)))
                    if bad.any():
                        i = bad.idxmax()
                        problems.append(f"col {c}: {bad.sum()} diffs, first@{i}: {gs[i]!r} vs {es[i]!r}")
            except Exception as ex:
                problems.append(f"col {c}: compare error {ex}")
    if problems:
        print(f"FAIL  {name}: " + "; ".join(problems)); fail += 1
    else:
        print(f"ok    {name} ({len(got)} rows)"); ok += 1

missing = set(oracle) - set(names)
for m in sorted(missing):
    print(f"FAIL  {m}: oracle present but query produced no output dir"); fail += 1
print(f"\n{ok} ok, {fail} fail, {skipped} rows-only")
sys.exit(1 if fail else 0)
