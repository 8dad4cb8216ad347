#!/usr/bin/env python3
"""Record the catalog workload's expected outputs.

Run from the repository root:  python3 perfbench/record_expected.py

Runs every catalog-workload query once (perfbench.Record), compares each
dumped result with its DuckDB oracle (SparkEntry.oracleSql, columns sorted
by name, exact values), and only if all match writes each query's row
count and order-independent hash to perfbench/expected_catalog.json.
Needs the `duckdb` and `pandas` Python modules; the benchmark run does not.
"""
import glob
import json
import os
import shutil
import sys

import run

SF = os.path.join(run.DATA, "sf0.001")


def same(s, d):
    """Exact comparison in the manner of the repository's oracle gate."""
    import pandas as pd
    s = s[sorted(s.columns)].reset_index(drop=True)
    d = d[sorted(d.columns)].reset_index(drop=True)
    if list(s.columns) != list(d.columns) or len(s) != len(d):
        return f"shape {list(s.columns)}x{len(s)} vs {list(d.columns)}x{len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind != b.dtype.kind:
            return f"{c}: dtype {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f":
            ok = ((a.isna() & b.isna()) | (a == b)).all()
        elif a.dtype.kind == "M":
            ns = lambda x: pd.to_datetime(x).astype("datetime64[ns]").astype("int64")
            ok = (ns(a) == ns(b)).all()
        else:
            av = a.astype(object).where(~a.isna(), None)
            bv = b.astype(object).where(~b.isna(), None)
            ok = all(x == y for x, y in zip(av, bv))
        if not ok:
            return f"{c}: values differ"
    return None


def main():
    import duckdb
    import pandas as pd
    classes = run.build()
    tmp = os.path.join(run.ROOT, ".bench_tmp", f"record-{os.getpid()}")
    os.makedirs(tmp)
    try:
        out = os.path.join(tmp, "record.json")
        log = os.path.join(tmp, "record.log")
        code = run.run_jvm(classes, [SF, os.path.join(tmp, "dump"), out], tmp, log,
                           main="perfbench.Record", timeout=3600)
        if code != 0:
            sys.stderr.write(open(log).read()[-4000:])
            sys.exit(f"perfbench.Record exited with {code}")
        rec = json.load(open(out))
        con = duckdb.connect()
        for f in glob.glob(f"{SF}/*.parquet"):
            name = os.path.basename(f)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        bad = 0
        for q, e in sorted(rec.items()):
            spark_df = pd.concat([pd.read_parquet(p) for p in
                                  sorted(glob.glob(os.path.join(tmp, "dump", q, "*.parquet")))])
            why = same(spark_df, con.execute(e["sql"]).df())
            print(f"{'ok  ' if why is None else 'FAIL'} {q}: {e['rows']} rows" +
                  ("" if why is None else f" ({why})"))
            bad += why is not None
        if bad:
            sys.exit(f"{bad} queries differ from the oracle; nothing written")
        expected = {q: {"rows": e["rows"], "hash": e["hash"]} for q, e in sorted(rec.items())}
        with open(os.path.join(run.HERE, "expected_catalog.json"), "w") as f:
            json.dump(expected, f, indent=1)
            f.write("\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
