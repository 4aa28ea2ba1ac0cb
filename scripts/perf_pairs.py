#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload.

Usage:
  scripts/perf_pairs.py <parentDir> <changeDir> <workload> <seed> [<seed> ...]

<parentDir> and <changeDir> are two checkouts of the repository (for
example `git archive <sha> | tar -x -C <dir>`), each built by its own
`perfbench/run.py`. Pair i runs seed i on both sides, the parent first in
even pairs and the change first in odd ones, one run at a time
(`--trace 0`), each for the `run_seconds` the parent's BENCHMARK.json
sets. For every end-to-end metric in that file it prints the per-pair
values, both sides' medians and quartiles, the change's wins, and whether
the gain rule holds:

  - the change is better in at least nine tenths of the pairs (ties count
    for neither side), and
  - the medians differ, in the change's favour, by more than the parent's
    interquartile range;

plus whether the change's median stays within the metric's regression
bound. Any run that is not `correct: true` with 0 failed operations is
flagged, and the exit status is 1 if there was one.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run(root, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{root}: run failed (exit {p.returncode}) for seed {seed}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    a = ap.parse_args()

    with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    runs = {"parent": [], "change": []}
    bad = []
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(getattr(a, side), a.workload, seed, seconds)
            runs[side].append(r)
            if r.get("correct") is not True or r.get("failed", 0) != 0:
                bad.append(f"{side} seed {seed}: correct={r.get('correct')} failed={r.get('failed')}")
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.4g}" for m in metrics)
            print(f"pair {i + 1} seed {seed} {side:6s} {vals}", flush=True)

    n = len(a.seeds)
    print(f"\n{a.workload}: {n} pairs")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        wins = sum(1 for x, y in zip(p, c) if (y > x if higher else y < x))
        pm, cm = statistics.median(p), statistics.median(c)
        pq1, pq3 = quartiles(p)
        cq1, cq3 = quartiles(c)
        gain = (cm - pm) if higher else (pm - cm)
        rule = wins >= math.ceil(0.9 * n) and gain > pq3 - pq1
        worse = -gain / pm if pm else 0.0
        print(f"  {name}: per pair " + ", ".join(f"{x:.4g}/{y:.4g}" for x, y in zip(p, c)))
        print(f"    parent median {pm:.4g} (q1 {pq1:.4g}, q3 {pq3:.4g}, iqr {pq3 - pq1:.4g})"
              f" | change median {cm:.4g} (q1 {cq1:.4g}, q3 {cq3:.4g})")
        print(f"    change better in {wins}/{n} pairs; median gain {gain:+.4g} ({100 * gain / pm:+.1f} %);"
              f" gain rule {'MET' if rule else 'not met'};"
              f" within the {m['bound']:.0%} regression bound: {'yes' if worse <= m['bound'] else 'NO'}")
    for b in bad:
        print(f"  FLAG {b}")
    print(f"  runs not correct or with failed operations: {len(bad)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
