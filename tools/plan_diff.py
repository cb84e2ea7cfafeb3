#!/usr/bin/env python3
"""Compare two plan dumps for a plan-neutral change.

Usage: python3 tools/plan_diff.py A B

A and B are PlanDump outputs (PLANS.md) or captured `graft.Probe --plan`
stdout, one from each side of the change. Before comparing, the counters
that differ between any two runs of the same plan are masked:

  - expression ids        doc_id#56L       -> doc_id#NL
  - exchange plan ids     [plan_id=148]    -> [plan_id=N]
  - RDD ids               MapPartitionsRDD[29] -> MapPartitionsRDD[N]
  - RDD call-site lines   at Dedup.scala:617   -> at Dedup.scala:N

and sbt's own log lines ([info], [warn], [error], [success]) are dropped, so
a Probe run captured through `sbt runMain` compares by its plans alone. Run
Probe with `--runs 0`: TIME lines are measurements, not plans.

Prints a unified diff of the masked texts and exits 1 on any difference,
0 when they are identical.
"""
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\.scala):\d+"), r"\1:N"),
]
SBT_LOG = re.compile(r"^\[(info|warn|error|success)\]")


def masked(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if SBT_LOG.match(line):
                continue
            for pat, rep in MASKS:
                line = pat.sub(rep, line)
            out.append(line)
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = masked(argv[1]), masked(argv[2])
    diff = list(difflib.unified_diff(a, b, argv[1], argv[2]))
    if diff:
        sys.stdout.writelines(diff)
        print(f"DIFFER: {sum(1 for d in diff if d[:1] in '+-') - 2} changed lines")
        return 1
    print(f"SAME: {len(a)} lines after masking")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
