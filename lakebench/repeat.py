#!/usr/bin/env python3
"""Repeat benchmark runs over several seeds and report each metric's spread.

    python3 lakebench/repeat.py --workloads ev_nightly_ingest,ev_lake_dml,docs_curation \
        --seeds 1-10 --seconds 8 [--trace 0] [--out .bench_build/lakebench/repeat.json]

Runs lakebench/run.py once per (workload, seed), one after another, and
prints for every metric its median, its quartiles and its spread: the
distance between the first and third quartile (Python's
statistics.quantiles(values, n=4)) as a share of the median. Bounds
from BENCHMARK.json are shown next to the spreads when present.
Writes every run's result and the summary to --out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", default=os.path.join(".bench_build", "lakebench", "repeat.json"))
    args = ap.parse_args()

    bounds = {}
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as fh:
            bounds = {m["name"]: m.get("bound") for m in json.load(fh)["end_to_end"]}

    runs = []
    for w in args.workloads.split(","):
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(args.seconds), "--trace", args.trace],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = [l for l in p.stdout.splitlines() if l.strip()]
            result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"workload": w, "seed": seed, "exit": p.returncode,
                         "elapsed_s": round(time.time() - t0, 1), "result": result})
            status = "ok" if result and result["correct"] and not result["failed"] else "NOT OK"
            print("%s seed %d: %s in %.0f s" % (w, seed, status, time.time() - t0), flush=True)

    summary = {}
    for w in args.workloads.split(","):
        ok = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        print("\n%s (%d runs)" % (w, len(ok)))
        print("  %-36s %14s %14s %14s %8s %6s" % ("metric", "median", "q1", "q3", "spread", "bound"))
        names = ok[0]["metrics"].keys() if ok else []
        for n in names:
            vals = [r["metrics"][n]["value"] for r in ok]
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            summary.setdefault(w, {})[n] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                                             "values": vals}
            b = bounds.get(n)
            print("  %-36s %14.6g %14.6g %14.6g %8.4f %6s" % (n, med, q1, q3, sp, "" if b is None else b))
        elapsed = [r["elapsed_s"] for r in runs if r["workload"] == w]
        print("  run wall time: median %.1f s, max %.1f s" % (statistics.median(elapsed), max(elapsed)))

    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump({"runs": runs, "summary": summary}, fh, indent=1)
    return 0 if all(r["result"] and r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
