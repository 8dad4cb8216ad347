#!/usr/bin/env python3
"""Self-test of the benchmark's output: parse what run.py prints and find
every metric BENCHMARK.json names.

Run from the repository root:

    python3 perfbench/selftest.py                  # all workloads, both modes
    python3 perfbench/selftest.py sync_trickle     # one workload

Each run uses a short timed section. The test fails unless, for every run,
the last stdout line is a JSON object with exactly the keys correct,
attempted, failed and metrics, every named metric is there with its unit
and a finite value, and the line before it is the full result document
with sample counts, nproc and the loadavg stamps. Both runs of a workload
use one seed, so their inputs' hashes must be equal.
"""
import json
import math
import subprocess
import sys

import run

SECONDS = "2"


def check(workload, trace, bench, digests):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", SECONDS, "--trace", str(trace)],
                       capture_output=True, text=True, timeout=900)
    errors = []
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-1000:]}"]
    lines = p.stdout.strip().splitlines()
    last, doc = json.loads(lines[-1]), json.loads(lines[-2])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"last line keys {sorted(last)}")
    if not (isinstance(last["attempted"], int) and last["attempted"] >= 1
            and isinstance(last["failed"], int)):
        errors.append("attempted/failed are not whole numbers with attempted >= 1")
    if last["correct"] is not True or last["failed"] != 0:
        errors.append(f"outputs not correct: {doc.get('failures')}")
    specs = bench["per_layer" if trace else "end_to_end"]
    if set(last["metrics"]) != {s["name"] for s in specs}:
        errors.append("metric names differ from BENCHMARK.json")
    for s in specs:
        m = last["metrics"].get(s["name"])
        if m is None:
            errors.append(f"missing {s['name']}")
        elif m.get("unit") != s["unit"] or not math.isfinite(m.get("value", float("nan"))):
            errors.append(f"{s['name']}: {m}")
    for k in ("nproc", "loadavg_start", "loadavg_end", "inputs_sha256", "metrics"):
        if k not in doc:
            errors.append(f"document lacks {k}")
    if digests.setdefault(workload, doc.get("inputs_sha256")) != doc.get("inputs_sha256"):
        errors.append("the same seed generated different inputs")
    for name, m in doc["metrics"].items():
        if not {"value", "unit", "n"} <= set(m) or (name.endswith("_tail_ms") and "pct" not in m):
            errors.append(f"document metric {name} lacks its unit, sample count or percentile")
    return errors


def main():
    bench = json.load(open("BENCHMARK.json"))
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    bad = 0
    digests = {}
    for w in names:
        for trace in (0, 1):
            errors = check(w, trace, bench, digests)
            print(f"{'ok  ' if not errors else 'FAIL'} {w} --trace {trace}"
                  + "".join(f"\n     {e}" for e in errors), flush=True)
            bad += bool(errors)
    # the summary must refuse a document that lacks a named metric
    try:
        run.summary({"correct": True, "attempted": 1, "failed": 0, "metrics": {}}, bench, 0)
        print("FAIL summary accepted a document without metrics")
        bad += 1
    except SystemExit:
        print("ok   summary refuses a document without metrics")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
