#!/usr/bin/env python3
"""graft's benchmark: one command, three workloads.

Run from the repository root:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 12 --trace 0

It compiles graft (src/main/scala) and the benchmark's own Scala sources
with the Scala compiler shipped in Spark's jars into .bench_build/ (reused
while the sources are unchanged), runs one workload in a fresh JVM, and
prints the full result document as one bare JSON line, then, as the last
line, the summary {"correct", "attempted", "failed", "metrics"} holding
the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). The document is also written under .bench_out/.
Scratch files live in .bench_tmp/ and are removed at exit. Input tables
are read from $PERFBENCH_DATA (default ~/testdata), never written.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
OUT = os.path.join(ROOT, ".bench_out")
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
WORKLOADS = ("catalog", "sync_bulk", "sync_trickle")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the spark-submit on PATH, else
    those of the pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    die("Spark jars not found: set SPARK_HOME")


SPARK_JARS = spark_jars()


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        die(f"no graft sources under {ROOT}/src/main/scala: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def build():
    """Compile graft and the benchmark into BUILD/classes unless the
    sources' digest matches the last build's."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    os.makedirs(BUILD, exist_ok=True)
    fresh = classes + f".tmp{os.getpid()}"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", cp, "-d", fresh, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        shutil.rmtree(fresh, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        die("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def heap_mb():
    """A quarter of MemTotal, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(2048, min(6144, kb // 4096))


def run_jvm(classes, main_args, tmp, log_path, main="perfbench.Main", timeout=RUN_TIMEOUT_S):
    """Run `main` in a fresh JVM whose every scratch path is under `tmp`;
    returns its exit code."""
    jopts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{heap_mb()}m", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}/jtmp", f"-Dspark.local.dir={tmp}/spark-local",
        f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}/derby",
        f"-Dderby.stream.error.file={tmp}/derby.log", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC"]
    for d in ("jtmp", "spark-local", "derby"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    cp = classes + os.pathsep + os.path.join(SPARK_JARS, "*")
    with open(log_path, "w") as log:
        # SPARK_LOCAL_DIRS, when set, would override spark.local.dir
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
        p = subprocess.Popen(["java"] + jopts + ["-cp", cp, main] + main_args,
                             cwd=tmp, env=env, stdout=subprocess.DEVNULL, stderr=log)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def summary(doc, bench, trace):
    """The last line: every metric BENCHMARK.json names for this mode."""
    specs = bench["per_layer" if trace else "end_to_end"]
    src = doc["per_layer"] if trace else doc["metrics"]
    metrics = {}
    for s in specs:
        if s["name"] not in src:
            die(f"the run reported no metric '{s['name']}'")
        v = src[s["name"]]
        value = v["value"] if isinstance(v, dict) else v
        if value is None:
            die(f"metric '{s['name']}' has no value")
        metrics[s["name"]] = {"value": value, "unit": s["unit"]}
    return {"correct": doc["correct"], "attempted": doc["attempted"], "failed": doc["failed"],
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        die("BENCHMARK.json not found: run from the repository root")
    bench = json.load(open(bench_file))
    classes = build()
    if not os.path.isdir(DATA):
        die(f"input tables not found at {DATA} (set PERFBENCH_DATA)")

    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    tmp = os.path.join(ROOT, ".bench_tmp", f"{tag}-{os.getpid()}")
    out = os.path.join(OUT, tag + ".json")
    log = os.path.join(OUT, tag + ".log")
    if os.path.exists(out):
        os.remove(out)
    os.makedirs(tmp)
    try:
        code = run_jvm(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace), DATA,
                                 os.path.join(HERE, "expected_catalog.json"), tmp, out], tmp, log)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"the benchmark JVM exited with {code}; log: {log}")
    doc = json.load(open(out))
    print(json.dumps(doc, separators=(",", ":")))
    print(json.dumps(summary(doc, bench, a.trace), separators=(",", ":")))


if __name__ == "__main__":
    main()
