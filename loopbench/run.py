#!/usr/bin/env python3
"""Closed-loop benchmark of graft: one client, one workload, whole passes.

Usage (from the repository root):

    python3 loopbench/run.py --workload llm_ops --seed 1 --seconds 6 --trace 0

Builds the harness (loopbench/harness, which compiles the product's tracked
sources with its own) on first use, then runs one JVM for the workload and
prints one JSON line last on stdout: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. See loopbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(HERE, ".out")
HASHES = os.path.join(HERE, "expected_hashes.json")
STAMP = os.path.join(HARNESS, "target", "loopbench-build.json")

WORKLOADS = ["llm_ops", "corpus_ingest"]

JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[loopbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sf_dir():
    d = os.environ.get("GRAFT_BENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))
    if not os.path.isfile(os.path.join(d, "documents.parquet")):
        fail(f"no test data at {d} (set GRAFT_BENCH_SF_DIR)")
    return d


def heap():
    """Half of MemTotal in whole GB, clamped to 2..8 GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def sources():
    """Every tracked input of the build: product sources and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the harness when a source changed; return its classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("product sources (src/main/scala/graft) not found next to loopbench/")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    fp = h.hexdigest()
    try:
        with open(STAMP) as f:
            st = json.load(f)
        if st["fingerprint"] == fp:
            return st["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log("building the harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    cp = [l for l in r.stdout.splitlines()
          if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"harness build failed (exit {r.returncode})")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1]


def java_cmd(classpath, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    mem = heap()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", f"-Xms{mem}", f"-Xmx{mem}", *opens,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "loopbench.Main",
            "--work-dir", work, "--sf-dir", sf_dir(), *args]


def run_jvm(cmd, work, timeout=JVM_TIMEOUT_S):
    """Run the JVM in `work`, its stderr to a log there; return its stdout."""
    with open(os.path.join(work, "jvm.log"), "w") as err:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in work
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=err, text=True)
        out = None
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        finally:
            # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if out is None or p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("benchmark JVM timed out" if out is None
             else f"benchmark JVM exited {p.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(HASHES):
        fail("expected_hashes.json missing")
    classpath = build()
    work = os.path.join(OUT, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--hashes", HASHES]
        if a.trace:
            args += ["--trace-out",
                     os.path.join(OUT, f"trace-{a.workload}-seed{a.seed}.jsonl")]
        launched = time.time()
        out = run_jvm(java_cmd(classpath, work, args), work)
    finally:
        if os.path.isfile(os.path.join(work, "jvm.log")):
            shutil.move(os.path.join(work, "jvm.log"),
                        os.path.join(OUT, f"jvm-{a.workload}-seed{a.seed}.log"))
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark JVM printed no result")
    r = json.loads(lines[-1])
    m = dict(r["metrics"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {x["name"]: x["unit"] for x in spec["per_layer" if a.trace else "end_to_end"]}
    if not a.trace:
        m["setup_s"] = r["timed_start_ms"] / 1e3 - launched
    missing = [k for k in units if k not in m]
    if missing:
        fail(f"metrics missing: {missing}")
    failed = int(r["failed"])
    print(json.dumps({
        "correct": bool(r["correct"]) and failed == 0,
        "attempted": int(r["attempted"]),
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
