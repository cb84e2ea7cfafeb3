#!/usr/bin/env python3
"""Paired loopbench window: one workload, two checkouts, N alternating pairs.

Usage: tools/loop_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N --seed0 S

Pair i runs `python3 loopbench/run.py --workload W --seed S+i --trace 0` once
in each checkout (the run length is BENCHMARK.json's `run_seconds`, the same
on both sides). The side that runs first alternates from pair to pair, so a
drift of the host over the window falls on both sides alike. Each run's JSON
line goes to stderr as it lands. At the end, for every end-to-end metric of
BENCHMARK.json, stdout gets each side's median and quartiles and the
change's wins out of N (ties count for neither), and whether the gain rule
holds: at least nine tenths of the pairs won, and the medians apart by more
than the parent's interquartile distance. A failed run stops the window.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = ["python3", "loopbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-4000:])
        sys.exit(f"run failed in {checkout} (seed {seed}, exit {r.returncode})")
    out = json.loads(lines[-1])
    if not out["correct"]:
        sys.exit(f"incorrect result in {checkout} (seed {seed}): {lines[-1]}")
    return {k: v["value"] for k, v in out["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            m = run(sides[side], a.workload, seed, spec["run_seconds"])
            runs[side].append(m)
            print(json.dumps({"pair": i, "seed": seed, "side": side, "metrics": m}),
                  file=sys.stderr, flush=True)
    print(f"{a.workload}: {a.pairs} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}")
    print("| metric | parent q1 / median / q3 | change q1 / median / q3 | change wins | gain rule |")
    print("|---|---|---|---|---|")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        pq, cq = quartiles(p), quartiles(c)
        held = wins * 10 >= 9 * a.pairs and abs(cq[1] - pq[1]) > pq[2] - pq[0]
        fmt = lambda q: " / ".join(f"{v:.4g}" for v in q)
        print(f"| {name} | {fmt(pq)} | {fmt(cq)} | {wins}/{a.pairs} | "
              f"{'holds' if held else 'no'} |")


if __name__ == "__main__":
    main()
