#!/usr/bin/env python3
"""Print the traced per-query split (cold and warm wall, jobs, driver-only
ms, slot use) that the catalog workload's choice of queries rests on.

Run from the repository root:
    python3 perfbench/split.py sf0.01 q242_single_linkage,q205_exact_jaccard
"""
import json
import os
import shutil
import sys

import run


def main():
    sf, names = sys.argv[1], sys.argv[2]
    classes = run.build()
    tmp = os.path.join(run.ROOT, ".bench_tmp", f"split-{os.getpid()}")
    os.makedirs(tmp)
    try:
        out, log = os.path.join(tmp, "split.json"), os.path.join(tmp, "split.log")
        code = run.run_jvm(classes, [os.path.join(run.DATA, sf), names, out], tmp, log,
                           main="perfbench.Split", timeout=3600)
        if code != 0:
            sys.stderr.write(open(log).read()[-4000:])
            sys.exit(f"perfbench.Split exited with {code}")
        split = json.load(open(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("| query | cold s | warm s | jobs | driver-only ms | slot use |")
    print("|---|---:|---:|---:|---:|---:|")
    for q, r in split.items():
        print(f"| {q} | {r['cold_s']:.2f} | {r['warm_s']:.2f} | {r['jobs']} | "
              f"{r['driver_only_ms']:.0f} | {r['slot_use']:.2f} |")


if __name__ == "__main__":
    main()
