#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir] [prefixes]
Runs graft.Verify via sbt, then each oracle SQL in DuckDB over the same
parquet tables, and strictly compares (columns sorted by name, exact values).
`prefixes` (comma-separated, e.g. q86,q87) limits both the dump and the
compare to the queries whose names start with one of them.
"""
import json, subprocess, sys, glob, os

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
PREFIXES = sys.argv[3].split(",") if len(sys.argv) > 3 else None
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def selected(name):
    return PREFIXES is None or any(name.startswith(p) for p in PREFIXES)


if os.environ.get("SKIP_VERIFY") != "1":
    verify_args = [SF, OUT] + ([sys.argv[3]] if PREFIXES else [])
    r = subprocess.run(["sbt", "-batch", "runMain graft.Verify " + " ".join(verify_args)],
                       cwd=ROOT, capture_output=True, text=True, timeout=1800)
    if "[success]" not in r.stdout:
        print(r.stdout[-4000:]); print(r.stderr[-2000:]); sys.exit(1)
    # surface per-query failures printed by Verify
    for line in r.stderr.splitlines():
        if "[verify]" in line: print(line)

import duckdb, pandas as pd, numpy as np

con = duckdb.connect()
for f in glob.glob(f"{SF}/*.parquet"):
    name = os.path.basename(f).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
ok = fail = 0
for name, sql in sorted(oracle.items()):
    if not selected(name):
        continue
    pdir = f"{OUT}/{name}"
    if not os.path.isdir(pdir):
        failed = f"{OUT}/{name}.failed"
        reason = open(failed).read().strip() if os.path.exists(failed) else "no spark output"
        print(f"FAIL {name}: {reason}"); fail += 1; continue
    try:
        spark_df = pd.concat([pd.read_parquet(p) for p in sorted(glob.glob(f"{pdir}/*.parquet"))])
        duck_df = con.execute(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {e}"); fail += 1; continue
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns):
        print(f"FAIL {name}: columns {list(s.columns)} vs {list(d.columns)}"); fail += 1; continue
    if len(s) != len(d):
        print(f"FAIL {name}: rows {len(s)} vs {len(d)}"); fail += 1; continue
    bad = []
    for c in s.columns:
        a, b = s[c], d[c]
        try:
            if a.dtype.kind == 'f' or b.dtype.kind == 'f':
                eq = ((a.isna() & b.isna()) | (a == b)).all()
            elif str(a.dtype).startswith('datetime') or str(b.dtype).startswith('datetime'):
                eq = (pd.to_datetime(a).astype('datetime64[ns]').astype('int64')
                      == pd.to_datetime(b).astype('datetime64[ns]').astype('int64')).all()
            else:
                av = a.astype(object).where(~a.isna(), None)
                bv = b.astype(object).where(~b.isna(), None)
                eq = all((x == y) or (x is None and y is None) for x, y in zip(av, bv))
        except Exception as e:
            eq = False
        if not eq:
            bad.append(c)
    # schema kind comparison (int vs float vs str) — approximates driver strictness
    kinds = [(c, s[c].dtype.kind, d[c].dtype.kind) for c in s.columns if s[c].dtype.kind != d[c].dtype.kind]
    if bad or kinds:
        print(f"FAIL {name}: value-mismatch cols={bad} dtype-mismatch={kinds}")
        for c in bad[:2]:
            m = (s[c] != d[c]) & ~(s[c].isna() & d[c].isna())
            print(f"  {c}: spark={s[c][m].head(3).tolist()} duck={d[c][m].head(3).tolist()}")
        fail += 1
    else:
        ok += 1
# rows-only check for queries without an oracle (non-SQL-expressible ops):
# the dump must exist and be non-empty.
rowsonly = 0
for failed in sorted(glob.glob(f"{OUT}/*.failed")):
    name = os.path.basename(failed)[:-len(".failed")]
    if name not in oracle and selected(name):
        print(f"FAIL {name}: {open(failed).read().strip()}"); fail += 1
for pdir in sorted(glob.glob(f"{OUT}/q*")):
    name = os.path.basename(pdir)
    if name in oracle or not os.path.isdir(pdir) or not selected(name):
        continue
    try:
        n = sum(len(pd.read_parquet(p)) for p in glob.glob(f"{pdir}/*.parquet"))
    except Exception as e:
        print(f"FAIL {name}: rows-only read error {e}"); fail += 1; continue
    if n == 0:
        print(f"FAIL {name}: rows-only dump is empty"); fail += 1
    else:
        print(f"ok   {name}: rows-only, {n} rows"); ok += 1; rowsonly += 1

print(f"\n{ok} ok ({rowsonly} rows-only), {fail} fail")
sys.exit(1 if fail else 0)
