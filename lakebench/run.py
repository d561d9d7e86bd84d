#!/usr/bin/env python3
"""Build (when the sources changed) and run one benchmark workload.

Run from the root of a checkout:

    python3 lakebench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

The benchmark package (lakebench/build.sbt) compiles the engine sources
of the same checkout together with the benchmark's own, once per source
state; later runs reuse the classpath. Everything the build and the run
write stays under .bench_build/ at the checkout root. The last line of
standard output is the JSON result.
"""
import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "lakebench"
BUILD = ROOT / ".bench_build" / "lakebench"
WORKLOADS = ("backfill", "churn", "read_mix")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build compiles."""
    h = hashlib.sha256()
    files = sorted(
        [p for p in (ROOT / "src" / "main").rglob("*") if p.is_file()]
        + [p for p in (BENCH / "src" / "main").rglob("*") if p.is_file()]
        + [BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    stamp_file, cp_file = BUILD / "stamp", BUILD / "classpath"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspath"],
                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no engine sources under src/main/scala/graft; run from a checkout root")
    if not (BENCH / "build.sbt").is_file():
        fail("no lakebench/build.sbt; run from a checkout root")
    cp = classpath()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # JDK 17 needs these when a SparkSession starts outside spark-submit
    opens = [x for p in (BENCH / "add-opens.txt").read_text().split()
             for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    heap = json.loads((BENCH / "workloads.json").read_text())["common"]["driver_heap"]["value"]
    cmd = [java, f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", "-XX:ReservedCodeCacheSize=512m",
           *opens, "-cp", cp, "lakebench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--params", str(BENCH / "workloads.json"), "--work", str(BUILD)]
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(rc)


if __name__ == "__main__":
    main()
