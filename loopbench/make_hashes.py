#!/usr/bin/env python3
"""Regenerate loopbench/expected_hashes.json, cross-checked against DuckDB.

Usage (from the repository root): python3 loopbench/make_hashes.py

Runs every llm_ops row once through the harness (`--emit`), which writes
each result as parquet plus the result hash the benchmark checks. Each row
that has `SparkEntry.oracleSql` is then compared with DuckDB's answer to that
SQL under tools/check_oracle.py's canonicalisation; contract rows (no oracle)
keep their own hash. corpus_ingest's hash is the `doc_id` set of the corpus
the batch API builds from the same batches. The file is written only when
every oracle row matches.
"""
import json
import os
import shutil
import sys
import time

import duckdb

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
from check_oracle import canon  # noqa: E402


def main():
    classpath = run.build()
    sf = run.sf_dir()
    con = duckdb.connect()
    for f in sorted(os.listdir(sf)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf, f)}'")
    stored = {"sf_dir": os.path.basename(sf.rstrip("/"))}
    failures = 0
    for wl in ("llm_ops", "corpus_ingest"):
        work = os.path.join(run.OUT, f"emit-{wl}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        out = os.path.join(work, "results")
        run.run_jvm(run.java_cmd(classpath, work, ["--workload", wl, "--emit", out]), work)
        with open(os.path.join(out, "hashes.json")) as f:
            hashes = json.load(f)
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracle = json.load(f)
        for name in sorted(hashes):
            if name not in oracle:
                print(f"{wl:13s} {name:28s} own hash {hashes[name]}", flush=True)
                continue
            t0 = time.time()
            rel = con.sql(f"SELECT * FROM '{os.path.join(out, name)}/*.parquet'")
            spark_cols = [c.lower() for c in rel.columns]
            ora = con.sql(oracle[name])
            ora_cols = [c.lower() for c in ora.columns]
            ora_rows = ora.fetchall()
            same = (sorted(spark_cols) == sorted(ora_cols) and
                    canon(rel.fetchall(), spark_cols) == canon(ora_rows, ora_cols))
            print(f"{wl:13s} {name:28s} {'oracle OK' if same else 'ORACLE MISMATCH'}"
                  f" ({time.time() - t0:.1f} s)", flush=True)
            failures += not same
        stored[wl] = hashes
        shutil.rmtree(work, ignore_errors=True)
    if failures:
        print(f"{failures} oracle mismatches; {run.HASHES} left unchanged")
        return 1
    with open(run.HASHES, "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {run.HASHES}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
