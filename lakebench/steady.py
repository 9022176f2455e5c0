#!/usr/bin/env python3
"""Steadiness runner: repeat each workload with distinct seeds and print,
per end-to-end metric, the median, the quartiles and the quartile spread
as a share of the median, next to the bound BENCHMARK.json sets.

    python3 lakebench/steady.py [--workloads ingest,mutate]
        [--runs 10] [--seed0 1] [--trace 0]

Run from the repository root. Bounds in BENCHMARK.json are set from this
output: a metric's spread should sit well inside its bound (setup_s is
reported but not held to it). Also prints the wall time of the runs and
the projected time of the 4 + 22 x workloads runs a full comparison
makes. Exit status 1 when a run fails, reports a metric set other than
BENCHMARK.json's, or a spread exceeds its bound.
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


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        stdin=subprocess.DEVNULL, text=True, timeout=900)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") \
        else None
    return p.returncode, result, wall


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    declared = bench["per_layer"] if a.trace else bench["end_to_end"]
    bounds = {m["name"]: m.get("bound") for m in declared}
    ok = True
    walls = []
    summary = {}
    for w in a.workloads.split(","):
        values = {}
        for i in range(a.runs):
            seed = a.seed0 + i
            code, res, wall = run_once(w, seed, bench["run_seconds"], a.trace)
            walls.append(wall)
            print("%s seed=%d exit=%d wall=%.1fs correct=%s" % (
                w, seed, code, wall, res and res["correct"]), flush=True)
            if code != 0 or res is None or not res["correct"]:
                ok = False
                continue
            if set(res["metrics"]) != set(bounds):
                print("  metric names differ from BENCHMARK.json: %s" %
                      sorted(set(res["metrics"]) ^ set(bounds)))
                ok = False
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        summary[w] = {}
        print("\n%-44s %12s %12s %12s %8s %6s" % (
            w, "median", "q1", "q3", "spread", "bound"))
        for k in bounds:
            xs = values.get(k, [])
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds[k]
            flag = ""
            if b is not None and k != "setup_s":
                if spread > b:
                    flag, ok = "OVER", False
                elif spread > b / 3:
                    flag = "wide"
            summary[w][k] = {"median": med, "q1": q1, "q3": q3,
                             "spread": spread, "n": len(xs)}
            print("%-44s %12.6g %12.6g %12.6g %8.4f %6s %s" % (
                k, med, q1, q3, spread, b if b is not None else "-", flag))
        print()
    n_w = len(bench["workloads"])
    mean_wall = statistics.mean(walls) if walls else 0.0
    print("runs: %d, mean wall %.1f s; a full comparison (%d runs) "
          "projects to %.0f s plus two builds" % (
              len(walls), mean_wall, 4 + 22 * n_w, (4 + 22 * n_w) * mean_wall))
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steady-trace%d.json" % a.trace),
              "w") as f:
        json.dump({"summary": summary, "walls": walls}, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
