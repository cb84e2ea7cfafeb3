#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool, driver-side deps).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/<name>/ parquet (written by graft.Verify), re-runs
<verifyOutDir>/oracle_sql.json in DuckDB with views named after the tables in
<sfDir>, and compares: columns sorted by name, rows sorted, exact values.

<verifyOutDir>/oracle_exempt.json lists the rows that ship without an oracle,
each with the contract row that checks it instead. Beyond the value compare,
the gate fails:
  - a key of either JSON with no output dir (a row that threw in Verify
    writes none);
  - a rows-only dir with no exemption, or with no rows;
  - an exemption whose contract row did not come out OK in this run
    (`spec:<Suite>` contracts are checked by the test suite, not here).
"""
import glob
import json
import math
import os
import sys

import duckdb


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = repr(v)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(out_dir, "oracle_exempt.json")) as fh:
        exempt = json.load(fh)

    failures = 0
    ok = set()
    dirs = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(set(oracles) | set(exempt)):
        if name not in dirs:
            print(f"{name:24s} !! NO OUTPUT (the row failed in Verify)")
            failures += 1
    for name in sorted(dirs):
        qdir = os.path.join(out_dir, name)
        rel = con.sql(f"SELECT * FROM '{qdir}/*.parquet'")
        spark_cols = [c.lower() for c in rel.columns]
        spark_rows = rel.fetchall()
        if name not in oracles:
            status = f"rows-only ({len(spark_rows)} rows)"
            if len(spark_rows) == 0:
                status += "  !! EMPTY"
                failures += 1
            if name not in exempt:
                status += "  !! NO ORACLE AND NO EXEMPTION"
                failures += 1
            print(f"{name:24s} {status}")
            continue
        ora = con.sql(oracles[name])
        ora_cols = [c.lower() for c in ora.columns]
        ora_rows = ora.fetchall()
        if sorted(spark_cols) != sorted(ora_cols):
            print(f"{name:24s} SCHEMA MISMATCH spark={sorted(spark_cols)} oracle={sorted(ora_cols)}")
            failures += 1
            continue
        a, b = canon(spark_rows, spark_cols), canon(ora_rows, ora_cols)
        if a == b:
            ok.add(name)
            print(f"{name:24s} OK ({len(a)} rows)")
        else:
            failures += 1
            print(f"{name:24s} VALUE MISMATCH spark={len(a)} oracle={len(b)} rows")
            for x, y in list(zip(a, b))[:200]:
                if x != y:
                    print(f"   spark : {x}\n   oracle: {y}")
                    break
            only_a = [r for r in a if r not in set(b)][:3]
            only_b = [r for r in b if r not in set(a)][:3]
            if only_a:
                print(f"   only-spark : {only_a}")
            if only_b:
                print(f"   only-oracle: {only_b}")
    linked = 0
    for name in sorted(exempt):
        contract = exempt[name]["contract"]
        if contract.startswith("spec:"):
            print(f"{name:24s} exempt -> {contract} (checked by the test suite)")
            linked += 1
        elif contract in ok:
            print(f"{name:24s} exempt -> {contract} OK")
            linked += 1
        else:
            print(f"{name:24s} exempt -> {contract}  !! CONTRACT ROW NOT OK")
            failures += 1
    print(f"OK: {len(ok)}  EXEMPT LINKED: {linked}/{len(exempt)}")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
