#!/usr/bin/env python3
"""Attribute the Spark jobs of a run from its event log.

Run any program with Spark's event log on, for example

    mkdir -p /tmp/evlog
    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true -Dspark.eventLog.dir=file:/tmp/evlog" \\
      python3 crawlbench/run.py --workload polite_steady --seed 1 --seconds 10 --trace 1

then pass the log file(s):

    python3 scripts/spark_jobs.py /tmp/evlog/local-*            # one line per job
    python3 scripts/spark_jobs.py --summary /tmp/evlog/local-*  # counts only

Each job line gives the job id, its start time relative to the first job,
the crawl batch it ran for (the `graft.batch` local property that
`CrawlEngine.runBatch` sets on its jobs; `-` outside a batch), the name of
its result stage (Spark names a stage after its call site, e.g.
`count at CrawlEngine.scala:603`) and, for a parallel file listing (its
`spark.job.description` starts with "Listing leaf files"), the state
directory it listed. The summary counts jobs per batch, per call site and
listings per listed directory: a base directory (`<table>/base/v=<B>`)
listed more often than the number of engines that read it is being
re-listed. Batch ids restart with each engine's state directory, so a run
that crawls several directories (set-ups, a resume) lists each batch id
once per run of it, in order.
"""
import argparse
import collections
import json
import re

LISTING = "Listing leaf files"
LISTED_DIR = re.compile(r"file:(\S+?/base/v=-?\d+)/")
BATCH = "graft.batch"


def jobs(path):
    queries = {}  # SQL execution id -> the action that started it
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            if e.get("Event", "").endswith("SQLExecutionStart"):
                queries[str(e["executionId"])] = e["description"]
            if e.get("Event") != "SparkListenerJobStart":
                continue
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            stages = e.get("Stage Infos") or []
            site = queries.get(props.get("spark.sql.execution.id"))
            if site is None:
                site = max(stages, key=lambda s: s["Stage ID"])["Stage Name"] if stages else "?"
            listed = None
            if desc.startswith(LISTING):
                m = LISTED_DIR.search(desc)
                listed = m.group(1) if m else "(other dirs)"
            yield e["Job ID"], e["Submission Time"], site, listed, props.get(BATCH)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("logs", nargs="+")
    ap.add_argument("--summary", action="store_true")
    a = ap.parse_args()
    for path in a.logs:
        js = list(jobs(path))
        print(f"== {path}: {len(js)} jobs, {sum(1 for j in js if j[3])} listing jobs")
        t0 = js[0][1] if js else 0
        if not a.summary:
            for jid, t, site, listed, batch in js:
                mark = f"  LIST {listed}" if listed else ""
                print(f"{jid:6d} {(t - t0) / 1000:9.3f}s  {batch or '-':>5}  {site}{mark}")
        # consecutive jobs of one batch id are one batch run
        runs, prev = [], None
        for j in js:
            if j[4] is not None and j[4] == prev:
                runs[-1][1] += 1
            elif j[4] is not None:
                runs.append([j[4], 1])
            prev = j[4]
        print("-- jobs per batch run (graft.batch, in run order)")
        for batch, n in runs:
            print(f"{n:6d}  batch {batch}")
        sites = collections.Counter(j[2] for j in js)
        dirs = collections.Counter(j[3] for j in js if j[3])
        print("-- jobs per call site")
        for site, n in sites.most_common():
            print(f"{n:6d}  {site}")
        print("-- listing jobs per listed directory")
        for d, n in sorted(dirs.items()):
            print(f"{n:6d}  {d}")


if __name__ == "__main__":
    main()
