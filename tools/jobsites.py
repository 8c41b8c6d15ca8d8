#!/usr/bin/env python3
"""Where the Spark jobs of each timed lakebench op come from.

    python3 tools/jobsites.py <event log> <trace.jsonl> [--layer NAME]

<event log> is a Spark event log (a file, plain or .zstd, or a rolling
event-log directory) of a traced lakebench run; <trace.jsonl> is the same
run's span file, .bench_build/lakebench/traces/<workload>-seed<n>.jsonl.
To get both, run a traced run with event logging on, e.g. in a scratch
copy of the repo whose lakebench/jvm.options also carries

    -Dspark.eventLog.enabled=true
    -Dspark.eventLog.dir=file:///<scratch>/evlog

and then `python3 lakebench/run.py --workload W --seed N --trace 1`.

For each span of the trace (one layer call of a timed or set-up op), in
time order, it prints the span's wall time, its jobs and the driver time
between them: per job its id, start offset from the span's start, duration,
the gap since the previous job ended (or the span started), its SQL
execution id and the engine frames of the call site that started it (the
`details` stack of the job's SQLExecutionStart event; the first stage's
call site for a job outside SQL execution). Jobs belong to a span by the
span's job tag (lakebench-span-<id>), else by start time. --layer keeps the
spans of one layer name (e.g. lake.merge_s). A job's call site shows its
first FRAMES engine frames. A last line per layer sums jobs, busy and gap.
"""
import argparse
import json
import os
import re
import subprocess
import sys
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
TAG_PREFIX = "lakebench-span-"
ENGINE = re.compile(r"\bgraft\.")
FRAMES = 3


def event_lines(path):
    """The JSON lines of an event log file or rolling directory."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))
              if not f.startswith(("appstatus", "."))]
             if os.path.isdir(path) else [path])
    for f in files:
        if f.endswith((".zstd", ".zst")):
            out = subprocess.run(["zstd", "-dc", f], check=True, stdout=subprocess.PIPE).stdout
            text = out.decode("utf-8")
        elif f.endswith((".lz4", ".snappy", ".lzf")):
            sys.exit("jobsites: %s: only plain and zstd event logs are supported" % f)
        else:
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
        for line in text.splitlines():
            if line.strip():
                yield json.loads(line)


def read_log(path):
    """Jobs (id -> dict) and SQL execution call sites (id -> details)."""
    jobs, sql = {}, {}
    for ev in event_lines(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            stages = ev.get("Stage Infos") or []
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"],
                "start": ev["Submission Time"],
                "end": None,
                "exec": props.get("spark.sql.execution.id"),
                "tags": [t for t in (props.get("spark.job.tags") or "").split(",") if t],
                "stage_site": stages[0].get("Details", "") if stages else "",
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == SQL_START:
            sql[str(ev["executionId"])] = ev.get("details", "")
    return jobs, sql


def read_spans(path):
    spans = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                if "span" in rec:
                    spans.append(rec)
    return sorted(spans, key=lambda s: s["start_ms"])


def engine_frames(details):
    """The first FRAMES stack frames in engine code (graft.*)."""
    frames = [f.strip() for f in details.splitlines()]
    picked = [f for f in frames if ENGINE.search(f) and not f.startswith("lakebench.")]
    return picked[:FRAMES] or frames[:1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("eventlog")
    ap.add_argument("trace")
    ap.add_argument("--layer", help="only spans of this layer name")
    a = ap.parse_args()

    jobs, sql = read_log(a.eventlog)
    spans = read_spans(a.trace)
    by_span = defaultdict(list)
    for j in jobs.values():
        span = next((int(t[len(TAG_PREFIX):]) for t in j["tags"] if t.startswith(TAG_PREFIX)), None)
        if span is None:
            span = next((s["span"] for s in spans if s["start_ms"] <= j["start"] <= s["end_ms"]), None)
        if span is not None:
            by_span[span].append(j)

    totals = defaultdict(lambda: [0, 0, 0, 0])  # spans, jobs, busy ms, gap ms
    for s in spans:
        if a.layer and s["name"] != a.layer:
            continue
        js = sorted(by_span.get(s["span"], []), key=lambda j: j["start"])
        wall = s["end_ms"] - s["start_ms"]
        print("%s op %s (%s) span %d: %d ms, %d jobs"
              % (s["name"], s["op"], s["op_kind"], s["span"], wall, len(js)))
        cursor, busy = s["start_ms"], 0
        for j in js:
            end = j["end"] if j["end"] is not None else j["start"]
            gap = max(0, j["start"] - cursor)
            busy += max(0, min(end, s["end_ms"]) - max(j["start"], cursor))
            cursor = max(cursor, end)
            site = sql.get(j["exec"], "") if j["exec"] is not None else j["stage_site"]
            print("  job %-5d +%6d ms  %5d ms  gap %5d ms  exec %-5s %s"
                  % (j["id"], j["start"] - s["start_ms"], end - j["start"], gap,
                     j["exec"] if j["exec"] is not None else "-",
                     " <- ".join(engine_frames(site))))
        tail = max(0, s["end_ms"] - cursor)
        print("  end gap %d ms; busy %d ms, gaps %d ms" % (tail, busy, wall - busy))
        t = totals[s["name"]]
        t[0] += 1
        t[1] += len(js)
        t[2] += busy
        t[3] += wall - busy
    for name in sorted(totals):
        n, nj, busy, gap = totals[name]
        print("%s: %d spans, %d jobs, busy %d ms, gaps %d ms" % (name, n, nj, busy, gap))


if __name__ == "__main__":
    main()
