#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: extract_cold, extract_incremental, query_mix (see BENCHMARK.json
and perfbench/README.md). The first call builds the engine and the harness
with sbt into the build's own target dirs and records the classpath; later
calls reuse it until a source file changes. One JVM then runs the workload
(perfbench.Main). For query_mix this script first generates the query
tables and afterwards checks the dumped results against the DuckDB oracle
with tools/check_oracle.py. The last line printed is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(BENCH, ".build")
WORKLOADS = ("extract_cold", "extract_incremental", "query_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
ADD_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
             "java.nio java.util java.util.concurrent java.util.concurrent.atomic "
             "sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar").split()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if a source changed since the last build; return the classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == fp:
                with open(cp_file) as fh:
                    return fh.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(fp)
    return lines[-1].strip()


def run_jvm(cmd, deadline):
    """Run the workload JVM, echo its output, return its last line."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"workload JVM exited with {proc.returncode}")
    print("\n".join(lines[:-1]), flush=True)
    return lines[-1]


def oracle_check(data_dir, results_dir, deadline):
    """DuckDB compare of the dumped results: (checked, failed, failure lines)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), data_dir, results_dir],
        cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True,
        timeout=max(1.0, deadline - time.monotonic()))
    checked = [l for l in proc.stdout.splitlines() if " OK (" in l or " FAIL " in l]
    failed = [l for l in checked if " FAIL " in l]
    if proc.returncode not in (0, 1) or (proc.returncode == 1 and not failed):
        failed.append(f"check_oracle.py exited with {proc.returncode}: {proc.stdout[-500:]}")
    return len(checked), failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository")

    cp = classpath()
    deadline = time.monotonic() + JVM_TIMEOUT_S  # the build has its own limit
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    data_dir = os.path.join(work, "tables")
    if a.workload == "query_mix":
        t0 = time.monotonic()
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_tables.py"), data_dir],
                       check=True, timeout=120)
        args += ["--query-data", data_dir, "--pre-setup-s", repr(time.monotonic() - t0)]
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UnlockExperimentalVMOptions",
            "-XX:G1NewSizePercent=30", "-XX:G1HeapRegionSize=32m",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args)
    result = json.loads(run_jvm(cmd, deadline))

    if a.workload == "query_mix":
        checked, failed = oracle_check(data_dir, os.path.join(work, "query_mix", "results"),
                                       deadline)
        for f in failed:
            print(f"failure oracle: {f}")
        print(f"info oracle: {checked - len(failed)}/{checked} oracled queries match DuckDB")
        result["attempted"] += checked
        result["failed"] += len(failed)
        result["correct"] = result["failed"] == 0 and result["attempted"] > 0
    print(f"info error_rate: {result['failed'] / max(1, result['attempted'])}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
