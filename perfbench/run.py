#!/usr/bin/env python3
"""Run one perfbench workload against the graft engine built from source.

    python3 perfbench/run.py --workload serve|curate --seed N \
        --seconds S --trace 0|1 [--size full|smoke]

Run from the root of a checkout. The first run compiles the library
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in Spark's jars directory into .bench_build/perfbench/; later
runs reuse the classes while the sources are unchanged.

Standard output ends with two lines: the run's full record, then the
summary that BENCHMARK.json describes (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Everything else goes to standard error.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
# longest wait for a quiet machine before a run
QUIET_WAIT_S = 5.0

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


def spark_jars():
    """Spark's jars/ directory: under $SPARK_HOME, else beside spark-submit."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def sources():
    if not os.path.isdir(LIB_SRC):
        fail(f"library sources not found at {LIB_SRC}")
    found = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compiles library + benchmark once per source digest."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "-nowarn", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[3] + v[4], sum(v)  # idle + iowait, total


def busy_cores(window_s=0.5):
    """Cores kept busy over a short window, from /proc/stat."""
    idle0, total0 = cpu_times()
    time.sleep(window_s)
    idle1, total1 = cpu_times()
    total = max(1, total1 - total0)
    return os.cpu_count() * (1 - (idle1 - idle0) / total)


def wait_for_quiet(cores):
    """Waits up to QUIET_WAIT_S for fewer than cores/4 busy cores.

    The gate reads CPU busy time over half-second windows, not the
    1-minute loadavg: a run that starts right after another still sees
    the previous JVM in the loadavg for about a minute after it ended."""
    t0 = time.time()
    busy = busy_cores()
    while busy >= cores / 4 and time.time() - t0 < QUIET_WAIT_S:
        busy = busy_cores()
    return time.time() - t0, busy


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--size", default="full", choices=["full", "smoke"])
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(jars)

    cores = len(os.sched_getaffinity(0))
    waited, busy = wait_for_quiet(cores)
    load_start = loadavg()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--size", a.size, "--dir", work])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                           text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        fail(f"benchmark JVM exited with {r.returncode}")
    rec = json.loads(lines[-1])
    rec["load"] = {
        "effective_cores": rec["effective_cores"],
        "host_cores": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "busy_cores_start": round(busy, 3),
        "waited_s": round(waited, 3),
        "started_above_quarter": busy >= cores / 4,
    }
    print(json.dumps(rec, separators=(",", ":")))

    if a.trace:
        wanted, source = spec["per_layer"], rec["counters"]
    else:
        wanted, source = spec["end_to_end"], rec["e2e"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
