#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --runs 10 [--workloads a,b] [--first-seed 1]
        [--out .bench_build/spread.json]

Runs every workload --runs times, each time with its own seed, untraced,
interleaved (seed 1 of every workload, then seed 2, ...) so that a slow
stretch of the host lands on all workloads alike. Prints per metric the
median and the interquartile range as a share of the median (baseline.py's
`spread`) next to the metric's bound in BENCHMARK.json.

The CPU time the hypervisor took from this host during each run (`steal`
in /proc/stat, as a share of all CPU time) is recorded with the run.
Before each run a fixed single-threaded loop is timed (`calib_s`), which
shows when the host as a whole ran slower than usual.
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
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from baseline import spread  # noqa: E402


def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    return [int(x) for x in fields]


def calibrate():
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def run_once(workload, seed, seconds):
    calib = calibrate()
    before = cpu_times()
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    delta = [b - a for a, b in zip(before, cpu_times())]
    steal = delta[7] / max(1, sum(delta[:8]))
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        sys.exit(f"{workload} seed {seed}: incorrect result {out}")
    return out, wall, steal, calib


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build",
                                                   "spread.json"))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = a.workloads.split(",") if a.workloads else [
        w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values = {w: {m: [] for m in bounds} for w in names}
    runs = []
    for i in range(a.runs):
        seed = a.first_seed + i
        for w in names:
            out, wall, steal, calib = run_once(w, seed, spec["run_seconds"])
            runs.append({"workload": w, "seed": seed, "wall_s": round(wall, 1),
                         "steal": round(steal, 4), "calib_s": round(calib, 4),
                         "metrics": {m: v["value"]
                                     for m, v in out["metrics"].items()}})
            print(f"{w} seed {seed} ({wall:.0f} s, steal {steal:.1%}, "
                  f"calib {calib:.3f} s): " + " ".join(
                      f"{m}={v['value']:.4g}"
                      for m, v in out["metrics"].items()), flush=True)
            for m, v in out["metrics"].items():
                values[w][m].append(v["value"])
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump({"values": values, "runs": runs}, f, indent=1)
    print(f"{'workload':16} {'metric':18} {'median':>10} {'iqr/med':>8} bound")
    for w in names:
        for m, vs in values[w].items():
            print(f"{w:16} {m:18} {statistics.median(vs):10.4g} "
                  f"{spread(vs):8.3f} {bounds[m]}")


if __name__ == "__main__":
    main()
