#!/usr/bin/env python3
"""The crawl engine's benchmark: one command per workload.

    python3 crawlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program
(src/main/scala) and the benchmark (crawlbench/src/main/scala) with the Scala
compiler that ships with Spark into .bench_build/; later runs reuse that
build while the sources are unchanged. The run itself is one JVM at
local[nproc] (graftbench.Main). For read_api the query results are then
checked against SparkEntry.oracleSql in DuckDB. The last line of standard
output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Any failed check or operation makes the
command exit 1; a missing program or build failure exits 2.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def log(msg):
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def read_text(path):
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return fh.read()


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the program build's
    unmanagedBase (the jars ship with the machine, not with the repo)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  read_text(os.path.join(ROOT, "build.sbt")) or "")
    if not m:
        raise SystemExit("set SPARK_HOME: the build and the run need Spark's jars")
    return m.group(1)


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {os.path.relpath(d, ROOT)}: "
                             "run from the root of a repository checkout")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile program + benchmark once per source state; returns the class
    directory."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and read_text(stamp_file) == stamp:
        return classes, stamp
    log(f"compiling {len(files)} source files")
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes, stamp


def prepare(classes, stamp, deadline):
    """Generate the cached inputs (corpus, read state) in their own JVM, once
    per build: the read state is written by the program under test."""
    cache = os.path.join(WORK, "cache")
    ready = os.path.join(cache, "_READY")
    if read_text(ready) == stamp:
        return
    shutil.rmtree(cache, ignore_errors=True)
    work = os.path.join(WORK, "prepare")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    with open(os.path.join(WORK, "prepare.log"), "w") as out:
        r = subprocess.run(java_cmd(classes, work, "graftbench.Main", [
            "--workload", "prepare", "--seed", "0", "--seconds", "0", "--work", work,
            "--out", os.path.join(work, "record.json"),
            "--cores", str(len(os.sched_getaffinity(0)))]),
            cwd=work, stdout=out, stderr=subprocess.STDOUT, timeout=max(10, deadline - time.time()))
    failed = json.loads(read_text(os.path.join(work, "record.json")))["failed"] if r.returncode == 0 else 1
    shutil.rmtree(work, ignore_errors=True)
    if failed:
        raise SystemExit("input generation failed; see .bench_work/prepare.log")
    with open(ready, "w") as fh:
        fh.write(stamp)
    log(f"inputs generated in {time.time() - t0:.1f} s (not part of any metric)")


def java_cmd(classes, run_dir, main_class, args):
    """The JVM command line for a benchmark main; all scratch under run_dir."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Xmx3g", "-XX:+UseParallelGC", "-Xss4m",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             f"-Dderby.system.home={run_dir}",
             "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), main_class] + args)


def norm(v):
    if isinstance(v, float):
        if v != v:
            return None
        return round(v, 9)
    return v


def compare_query(con, got_files, expected_sql):
    """None when the result rows equal the oracle's (columns by name, rows
    as a sorted multiset, floats to 9 places), else a one-line reason."""
    gdf = con.sql(f"SELECT * FROM read_parquet({got_files!r})").df()
    edf = con.sql(expected_sql).df()
    gcols, ecols = sorted(gdf.columns), sorted(edf.columns)
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    g = sorted((tuple(norm(v) for v in r) for r in gdf[gcols].itertuples(index=False)), key=repr)
    e = sorted((tuple(norm(v) for v in r) for r in edf[ecols].itertuples(index=False)), key=repr)
    if len(g) != len(e):
        return f"{len(g)} rows != {len(e)}"
    for a, b in zip(g, e):
        if a != b:
            return f"row {a} != {b}"
    return None


def check_queries(sf_dir, results_dir):
    """Compare every query result the JVM wrote against DuckDB; returns
    (checked, failures)."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    failures = []
    for name in sorted(oracle):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            continue  # the JVM already counted a query that did not run
        why = compare_query(con, files, oracle[name])
        if why:
            failures.append(f"{name}: {why}")
    return len(oracle), failures


def catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def layer_catalog():
    """Per-layer metrics with the workloads that measure them (metrics.json)."""
    with open(os.path.join(HERE, "metrics.json")) as fh:
        return json.load(fh)["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    try:
        bench = catalog()
        if a.workload not in [w["name"] for w in bench["workloads"]]:
            raise SystemExit(f"unknown workload {a.workload}")
        classes, stamp = build()
        prepare(classes, stamp, start + DEADLINE_S)
        # a first run in a checkout (build, input generation) gets its own
        # allowance; every other run must end DEADLINE_S after it started
        if time.time() - start > 5:
            start = time.time()
    except (SystemExit, subprocess.TimeoutExpired) as e:
        log(str(e))
        return 2
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    record_file = os.path.join(run_dir, "record.json")
    cmd = java_cmd(classes, run_dir, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", run_dir, "--out", record_file, "--sf", SF_DIR,
        "--cores", str(len(os.sched_getaffinity(0)))])
    jvm_log = os.path.join(WORK, "jvm.log")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log(f"the run exceeded {DEADLINE_S} s; see {os.path.relpath(jvm_log, ROOT)}")
            return 1
    if rc != 0 or not os.path.exists(record_file):
        log(f"the JVM exited with {rc}; see {os.path.relpath(jvm_log, ROOT)}")
        return 1
    with open(record_file) as fh:
        record = json.load(fh)
    attempted, failures = record["attempted"], list(record["failures"])
    if a.workload == "read_api":
        n, qf = check_queries(SF_DIR, os.path.join(run_dir, "results"))
        attempted += n
        failures += qf
    measured = record["metrics"]
    if a.trace:
        for m in layer_catalog():
            # a layer the workload does not exercise, or an engine phase that
            # did not run in this run's batches, reads 0
            if m["name"] not in measured and (a.workload not in m["measured_on"] or
                                              m["name"].startswith("CrawlEngine.phase.")):
                measured[m["name"]] = 0.0
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = measured.get(m["name"])
        if v is None or not math.isfinite(v):
            failures.append(f"metric {m['name']} was not measured")
            attempted += 1
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in failures:
        log(f"FAIL {f}")
    # keep the run record (and spans) of the last run; drop everything else
    last = os.path.join(WORK, "last")
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for f in glob.glob(record_file + "*"):
        shutil.copy(f, last)
    shutil.rmtree(run_dir, ignore_errors=True)
    log(f"extra: {json.dumps(record.get('extra', {}))[:2000]}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
