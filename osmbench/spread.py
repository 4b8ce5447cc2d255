#!/usr/bin/env python3
"""Steadiness check of the OSM verb benchmark.

Runs each workload once per seed (untraced) and prints, per end-to-end
metric, the median and the spread: the distance between the first and
third quartiles (statistics.quantiles(values, n=4)) as a share of the
median, next to the metric's bound from BENCHMARK.json. setup_s is
exempt from both checks below.

A spread above its bound fails: a comparison against the bound could
not tell a change from noise. A spread within the bound but above a
third of it is wide: the benchmark meets its bound but is not as steady
as it aims to be.

    python3 osmbench/spread.py --seeds 1-10 [--workloads extract,replicate]

Exits 0 when every run was correct and every spread is below a third of
its bound, 2 when all are within their bounds but some are wide, and 1
when a run failed or was incorrect, or a spread is above its bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok, steady = True, True
    for w in a.workloads.split(","):
        values = {}
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                cwd=ROOT)
            if r.returncode != 0:
                print(f"{w} seed {s}: exit {r.returncode}")
                ok = False
                continue
            wall = time.monotonic() - t0
            lines = r.stdout.splitlines()
            res = json.loads(lines[-1])
            report = json.loads(lines[-2])["report"]
            print(f"{w} seed {s}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}"
                           for k, v in res["metrics"].items()) +
                  f" wall_s={wall:.1f} samples_ms={report['samples_ms']}",
                  flush=True)
            ok &= res["correct"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            if k == "setup_s":
                verdict = "exempt"
            elif spread > bounds[k]:
                verdict, ok = "FAIL", False
            elif spread >= bounds[k] / 3:
                verdict, steady = "wide", False
            else:
                verdict = "ok"
            print(f"  {w} {k}: median {med:.4g} spread {spread:.3f} "
                  f"bound {bounds[k]} {verdict}")
    sys.exit(1 if not ok else 0 if steady else 2)


if __name__ == "__main__":
    main()
