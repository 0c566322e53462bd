#!/usr/bin/env python3
"""End-to-end benchmark of graft's product path.

    python3 perfbench/run.py --workload validate_clean --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds graft and the benchmark
main from source with sbt (the build of its own in perfbench/) and records
the runtime classpath in .bench_build/; later runs reuse it while the
sources are unchanged. Each run starts one JVM, `local[nproc]`, which
generates the seeded inputs into .bench_work/ (reused for a repeated seed),
sets up, measures for --seconds and checks every output. The last stdout
line is the result object; the line before it holds the seed, the
CPU-probe readings and the measured workload properties.

Extra flags for the benchmark's own tests: --rows N shrinks the input,
--perturb makes the output check expect a wrong count.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ("validate_clean", "validate_poisoned", "curate")
# a run's own limit; the first run of a checkout also builds
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 600

# JDK 17 needs these for Spark outside spark-submit (as in the graft build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, to tell a stale build."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Builds on first use; returns the runtime classpath."""
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft"):
        if not need.exists():
            fail(f"no graft sources to build: {need.relative_to(ROOT)} is missing")
    stamp = source_stamp()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    print("perfbench: building graft and the benchmark with sbt", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-6000:])
        fail(f"build failed (sbt exit {r.returncode})")
    cp = lines[-1].strip()
    if "perfbench" not in cp or not all(pathlib.Path(p).exists() for p in cp.split(os.pathsep)):
        sys.stderr.write(r.stdout[-6000:])
        fail("sbt did not print a usable classpath")
    cp_file.write_text(cp + "\n")
    stamp_file.write_text(stamp)
    return cp


def heap():
    """Half the memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--rows", type=int)
    ap.add_argument("--perturb", action="store_true")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")

    cp = classpath()
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    shutil.rmtree(local, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    local.mkdir(parents=True)
    tmp.mkdir(parents=True)
    g = heap()
    # a fixed heap and the parallel collector: on 4 cores G1's concurrent
    # threads compete with the task threads and spread the figures
    cmd = ["java", f"-Xms{g}g", f"-Xmx{g}g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(WORK)]
    if a.rows:
        cmd += ["--rows", str(a.rows)]
    if a.perturb:
        cmd += ["--perturb"]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stdin=subprocess.DEVNULL, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(local, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = r.stdout.splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        fail(f"benchmark exited with {r.returncode}")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
