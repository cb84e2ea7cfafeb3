#!/usr/bin/env python3
"""Per-row cost of llm_ops candidate rows, from one traced pass.

Usage (from the repository root):

    python3 loopbench/survey.py [row,row,...]

Runs the harness on the given SparkEntry.queries rows (default: the 28-row
mix of dedup, ANN, embedding and document rows llm_ops was chosen from)
with two warm-up passes, one untraced and one traced pass, then prints each
row's traced wall time, builder-call time, jobs started in the builder call
and in the forcing call, and stages. README.md's "Choosing llm_ops'
rows" table comes from this output.
"""
import collections
import json
import os
import shutil
import sys

import run

MIX = [
    "dedup_exact", "dedup_url", "dedup_bloom", "dedup_paragraph",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_recall_sample", "dedup_clusters", "dedup_keep_canonical",
    "dedup_embedding", "dedup_embedding_exact", "dedup_incremental",
    "dedup_substring_spans", "dedup_substring_keep_first", "dedup_semantic",
    "ann_bruteforce", "ann_lsh", "ann_lsh_recall", "ann_ivf", "ann_ivf_recall",
    "emb_kmeans", "text_tfidf_terms", "text_boilerplate_spans",
    "docs_repetition_gate", "docs_ingest_batch", "docs_prepare_corpus",
    "docs_decontaminate",
]


def main():
    rows = sys.argv[1].split(",") if len(sys.argv) > 1 else MIX
    classpath = run.build()
    work = os.path.join(run.OUT, "survey")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = os.path.join(run.OUT, "survey-trace.jsonl")
    args = ["--workload", "llm_ops", "--seed", "1", "--seconds", "1",
            "--trace", "1", "--trace-out", trace, "--hashes", run.HASHES,
            "--rows", ",".join(rows), "--warmup", "2"]
    try:
        run.run_jvm(run.java_cmd(classpath, work, args), work, timeout=1200)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spans = [json.loads(l) for l in open(trace)]
    by_id = {s["id"]: s for s in spans}
    wall, build, jobs, stages = {}, {}, collections.Counter(), collections.Counter()
    for s in spans:
        if s["kind"] == "harness" and s["name"] == "op":
            wall[s["op"]] = (s["label"], s["end_ms"] - s["start_ms"])
        elif s["kind"] == "harness" and s["name"] == "build":
            build[s["op"]] = s["end_ms"] - s["start_ms"]
        elif s["kind"] == "job":
            phase = by_id.get(s["parent"], {}).get("name", "exec")
            jobs[(s["op"], "build" if phase == "build" else "exec")] += 1
        elif s["kind"] == "stage":
            stages[s["op"]] += 1
    print(f"{'row':28s} {'wall_s':>7s} {'build_s':>7s} {'jobs_b':>6s} {'jobs_e':>6s} {'stages':>6s}")
    for op, (label, ms) in sorted(wall.items(), key=lambda kv: -kv[1][1]):
        print(f"{label:28s} {ms / 1e3:7.3f} {build.get(op, 0) / 1e3:7.3f} "
              f"{jobs[(op, 'build')]:6d} {jobs[(op, 'exec')]:6d} {stages[op]:6d}")


if __name__ == "__main__":
    main()
