#!/usr/bin/env python3
"""Run the ETL benchmark for one workload and print its JSON result.

    python3 etlbench/run.py --workload small_runs --seed 1 --seconds 20 --trace 0

Workloads: small_runs and warehouse_jdbc (see BENCHMARK.json).

The first call builds the program and the harness with sbt (the build in
this directory depends on the repository's root build); later calls launch
the JVM directly from the recorded classpath. Everything the run writes
stays under etlbench/target. The last line of stdout is the JSON result;
the exit code is 0 only when every output matched the oracle. `failed`
counts operations whose outcome differs from the oracle's (the failed
share is failed / attempted). Per-layer metrics with unit "count" repeat
exactly across passes with the same seed.
"""
import argparse
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LAUNCH = HERE / "target" / "launch.txt"
WORK = HERE / "target" / "work"
# The default tiered JIT; the workloads absorb its warm-up with untimed
# operations. A fixed heap and young generation keep the resident set from
# following the collector's adaptive sizing.
JVM_OPTS = ["-XX:MetaspaceSize=256m",
            "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175


def newest_source_mtime():
    newest = 0.0
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        for p in d.rglob("*"):
            if p.is_file():
                newest = max(newest, p.stat().st_mtime)
    for f in (ROOT / "build.sbt", HERE / "build.sbt"):
        newest = max(newest, f.stat().st_mtime)
    return newest


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        sys.exit("etlbench: the program's sources (src/main/scala, build.sbt) are not next to "
                 "this directory; run from a checkout of the repository")
    if LAUNCH.is_file() and LAUNCH.stat().st_mtime >= newest_source_mtime():
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false", "launcher"]
    res = subprocess.run(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                         timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0 or not LAUNCH.is_file():
        sys.exit(f"etlbench: build failed (sbt exit {res.returncode})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    build()
    *jvm_opts, classpath = LAUNCH.read_text().splitlines()
    cmd = ["java", *JVM_OPTS, "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           *jvm_opts, "-cp", classpath, "etlbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace, "--work", str(WORK)]
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"etlbench: run exceeded {RUN_TIMEOUT_S} s")
    lines = out.rstrip("\n").splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line, file=sys.stderr)
    # a result that failed the oracle check is still printed, then exit 1
    if result is not None:
        print(result)
    if proc.returncode != 0 or result is None:
        sys.exit(proc.returncode or 1)


if __name__ == "__main__":
    main()
