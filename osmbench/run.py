#!/usr/bin/env python3
"""OSM verb benchmark: one workload run.

    python3 osmbench/run.py --workload expand|extract|replicate \\
        --seed N --seconds S --trace 0|1

Builds the benchmark from source if needed (see build.py), runs the
workload in one JVM with Spark local[min(4, nproc)], and relays its
output. The last line of standard output is the result JSON. Every file
the run writes stays under osmbench/; the run's scratch directory is
removed when it ends. With --trace 1 the spans are kept in
osmbench/.out/spans-<workload>-<seed>.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

# fixed heap size: a heap the collector may grow and shrink made run times
# and live-heap readings wander from run to run
HEAP = "3g"
TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["expand", "extract", "replicate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    out = build.build("main")
    work = os.path.join(build.HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", *build.JVM_OPENS,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", build.classpath(out), "osmbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
    if a.trace == "1":
        spans = os.path.join(build.HERE, ".out")
        os.makedirs(spans, exist_ok=True)
        cmd += ["--spans",
                os.path.join(spans, f"spans-{a.workload}-{a.seed}.json")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"osmbench: run exceeded {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"osmbench: run failed (exit {proc.returncode})")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.exit("osmbench: no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("osmbench: malformed result line")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
