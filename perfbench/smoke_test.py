#!/usr/bin/env python3
"""Smoke test of the benchmark at its tiny `smoke` size.

    python3 perfbench/smoke_test.py

Runs every workload of BENCHMARK.json untraced and traced at --size smoke
and checks that each run passes its output checks and ends with the summary
line BENCHMARK.json describes. Then reads the records back with the
benchmark's json4s reader, and checks that a directory holding only
BENCHMARK.json and perfbench/ fails fast without printing a result.
Exits non-zero on the first failure. Takes a few minutes.
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


def check(cond, msg):
    if not cond:
        print(f"FAIL: {msg}")
        sys.exit(1)
    print(f"ok: {msg}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    scratch = os.path.join(run.BUILD, "smoke")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    records = os.path.join(scratch, "records.jsonl")

    for w in (x["name"] for x in spec["workloads"]):
        for trace in (0, 1):
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace),
                 "--size", "smoke"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
            lines = r.stdout.strip().splitlines()
            check(r.returncode == 0 and len(lines) >= 2,
                  f"{w} trace {trace} exits 0 with a record and a summary")
            last = json.loads(lines[-1])
            check(set(last) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace {trace} summary has exactly the contract keys")
            check(last["correct"] and last["failed"] == 0 and last["attempted"] >= 1,
                  f"{w} trace {trace} output checks pass")
            wanted = spec["per_layer"] if trace else spec["end_to_end"]
            check(set(last["metrics"]) == {m["name"] for m in wanted},
                  f"{w} trace {trace} reports every {'per_layer' if trace else 'end_to_end'} metric")
            with open(records, "a") as f:
                f.write(lines[-2] + "\n")

    jars = run.spark_jars()
    classes = run.build(jars)
    r = subprocess.run(["java", "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
                        "perfbench.Records", records], stdout=subprocess.PIPE, text=True)
    print(r.stdout, end="")
    check(r.returncode == 0, "json4s reads every record back with its fields")

    bare = os.path.join(scratch, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=180)
    check(r.returncode != 0 and r.stdout.strip() == "",
          "without the library sources the run fails and prints no result")
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
