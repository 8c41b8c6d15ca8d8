#!/usr/bin/env python3
"""Interleaved A/B of one lakebench workload: a parent revision against the change.

    python3 tools/ab.py --parent <rev> --workload <name> --pairs <n> --seconds 8 \
        [--seeds a-b] [--scratch <dir>] [--out <file>]

The parent is exported with `git archive` into <scratch>/<sha> (the
scratch directory defaults to lakebench-ab under the system temporary
directory, outside the repository) and reused by later calls. The change
is the working tree this script sits in. Each side runs its own
lakebench/run.py, untraced, so each builds and measures its own engine.

Before the pairs, each side runs once unrecorded, which builds it. Pair i
then runs both sides on seed i of --seeds (default 1-<pairs>), the parent
first in even pairs and the change first in odd ones, so neither side
always runs on a machine warmed or loaded by the other.

For every end-to-end metric of the change's BENCHMARK.json it prints both
medians, the relative change of the medians, how many pairs the change
won (by the metric's "better" direction) and each side's interquartile
range (q3 - q1 of statistics.quantiles(values, n=4)). Every run's result
goes to --out as JSON. Exits 1 if any recorded run printed no result or
an incorrect one.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += list(range(int(a), int(b) + 1))
        else:
            out.append(int(part))
    return out


def export(rev, scratch):
    """The tree of `rev`, extracted once into <scratch>/<sha>."""
    sha = subprocess.check_output(["git", "-C", ROOT, "rev-parse", "--verify", rev + "^{commit}"],
                                  text=True).strip()
    dest = os.path.join(scratch, sha)
    done = os.path.join(dest, ".ab-exported")
    if not os.path.exists(done):
        os.makedirs(dest, exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", dest], stdin=archive.stdout)
        if archive.wait() != 0:
            sys.exit("ab: git archive %s failed" % rev)
        open(done, "w").close()
    return dest, sha[:12]


def run(side, workload, seed, seconds):
    """One untraced run of `side`'s own harness: (result or None, elapsed s)."""
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(side, "lakebench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=side, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return result, time.time() - t0


def ok(result):
    return result is not None and result.get("correct") is True


def iqr(values):
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def main():
    ap = argparse.ArgumentParser(description="Interleaved parent/change A/B of one lakebench workload.")
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--seeds", help="seed list or range, one seed per pair (default 1-<pairs>)")
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "lakebench-ab"))
    ap.add_argument("--out", help="JSON file for every run (default <scratch>/ab-<workload>.json)")
    args = ap.parse_args()

    seeds = seeds_of(args.seeds) if args.seeds else list(range(1, args.pairs + 1))
    if len(seeds) < args.pairs:
        sys.exit("ab: %d seeds for %d pairs" % (len(seeds), args.pairs))
    scratch = os.path.abspath(args.scratch)
    if os.path.commonpath([scratch, ROOT]) == ROOT:
        sys.exit("ab: the scratch directory must be outside the repository")
    parent, parent_sha = export(args.parent, scratch)
    sides = {"parent": parent, "change": ROOT}
    print("parent %s in %s; change: the working tree in %s" % (parent_sha, parent, ROOT), flush=True)

    for name, side in sides.items():
        result, secs = run(side, args.workload, seeds[0], args.seconds)
        print("build+warm %s: %s in %.0f s (not recorded)" % (name, "ok" if ok(result) else "NOT OK", secs),
              flush=True)

    runs = []
    for i, seed in enumerate(seeds[:args.pairs]):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for name in order:
            result, secs = run(sides[name], args.workload, seed, args.seconds)
            runs.append({"pair": i, "seed": seed, "side": name, "elapsed_s": round(secs, 1),
                         "result": result})
            print("pair %d seed %d %s: %s in %.0f s" % (i + 1, seed, name, "ok" if ok(result) else "NOT OK",
                                                        secs), flush=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    by = {(r["pair"], r["side"]): r["result"] for r in runs}
    pairs = [i for i in range(args.pairs) if by[(i, "parent")] and by[(i, "change")]]
    print("\n%s, %d pairs (seeds %s), parent %s vs the working tree\n" % (
        args.workload, len(pairs), ",".join(str(s) for s in seeds[:args.pairs]), parent_sha))
    print("| metric | parent median | change median | change | change wins | parent IQR | change IQR |")
    print("|---|---|---|---|---|---|---|")
    for m in metrics:
        n = m["name"]
        pv = [by[(i, "parent")]["metrics"][n]["value"] for i in pairs if n in by[(i, "parent")]["metrics"]]
        cv = [by[(i, "change")]["metrics"][n]["value"] for i in pairs if n in by[(i, "change")]["metrics"]]
        if not pairs or len(pv) != len(pairs) or len(cv) != len(pairs) or None in pv + cv:
            continue
        sign = 1 if m.get("better") == "higher" else -1
        wins = sum(1 for a, b in zip(pv, cv) if sign * (b - a) > 0)
        pm, cm = statistics.median(pv), statistics.median(cv)
        rel = (cm - pm) / pm if pm else float("nan")
        print("| %s | %.4g | %.4g | %+.1f%% | %d/%d | %.4g | %.4g |" % (
            n, pm, cm, 100 * rel, wins, len(pairs), iqr(pv), iqr(cv)))

    out = args.out or os.path.join(scratch, "ab-%s.json" % args.workload)
    with open(out, "w") as fh:
        json.dump({"parent": parent_sha, "workload": args.workload, "runs": runs}, fh, indent=1)
    bad = [r for r in runs if not ok(r["result"])]
    for r in bad:
        print("incorrect or missing result: pair %d seed %d %s" % (r["pair"] + 1, r["seed"], r["side"]))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
