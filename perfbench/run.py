#!/usr/bin/env python3
"""Run one benchmark workload; see BENCHMARK.json.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                           [--smoke] [--corrupt-digest QUERY]

Builds the program and the benchmark from source when they changed (the
build goes to $CARGO_TARGET_DIR, default .bench_build), then runs the
workload in one JVM sized to this machine. The last line of standard output
is the result JSON. --smoke runs on the sf0.001 tables and a tiny frontier;
--corrupt-digest replaces one expected digest, to check that a wrong output
is counted as a failure. Exits non-zero without a result line on any error.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("crawl_nightly", "catalog_analytics", "catalog_similarity")
FRONTIER_IDS = 20000  # synthetic ids per crawl round at full size
SMOKE_FRONTIER_IDS = 2000
TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    paths = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(heap, classpath):
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
                  "-cp", os.pathsep.join(classpath)]


def spark_jars():
    """Spark's jars, from where the program's build.sbt takes them."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt sets no unmanagedBase")
    return m.group(1)


def build(target, heap):
    """Compile with sbt unless the build matches the sources. Returns the
    class path: the program and benchmark as one jar, then Spark's jars. The
    build also dumps the classes a Spark session loads into a class-data
    archive (CDS), which saves each run about 3 s of JVM start."""
    jar = os.path.join(target, "perfbench.jar")
    jars = spark_jars()
    classpath = [jar] + sorted(os.path.join(jars, f) for f in os.listdir(jars) if f.endswith(".jar"))
    stamp_file = os.path.join(target, "source.sha256")
    stamp = source_stamp()
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    env = dict(os.environ, PERFBENCH_TARGET=target, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    r = subprocess.run(["jar", "cf", jar, "-C", os.path.join(target, "scala-2.13", "classes"), "."])
    if r.returncode != 0:
        fail("packaging failed")
    archive = os.path.join(target, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    r = subprocess.run(java_cmd(heap, classpath) + [f"-XX:ArchiveClassesAtExit={archive}", "perfbench.Tools", "session"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("class-data archive failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def heap_gb():
    """MemTotal/2 clamped to 2-8 GB, as the tier-1 verify computes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(max(kb // 2097152, 2), 8)
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt-digest")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}")
    heap = f"{heap_gb()}g"
    target = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    classpath = build(target, heap)

    sf = "sf0.001" if a.smoke else "sf0.01"
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    cmd = java_cmd(heap, classpath) + [
        f"-XX:SharedArchiveFile={os.path.join(target, 'classes.jsa')}",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--cores", str(cores),
        "--data", os.path.join(BENCH, "data", sf),
        "--work", work,
        "--frontier", str(SMOKE_FRONTIER_IDS if a.smoke else FRONTIER_IDS),
        "--expected", os.path.join(BENCH, "expected", f"{sf}.tsv"),
        "--split", os.path.join(BENCH, "catalog_split.tsv"),
        "--launch-ms", str(int(time.time() * 1000)),
    ]
    if a.corrupt_digest:
        cmd += ["--corrupt-digest", a.corrupt_digest]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"timed out after {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    if proc.returncode != 0:
        fail(f"benchmark exited with {proc.returncode}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
