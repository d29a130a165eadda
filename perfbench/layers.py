#!/usr/bin/env python3
"""Per-layer table of one traced run per workload, with tracing overhead.

    python3 perfbench/layers.py [--seed 1] [--out perfbench/LAYERS.md]

For each workload runs the benchmark untraced and traced with the same
seed, then writes a markdown report: the per-layer self-time table built
from the traced run's spans (a span's duration minus its children's,
summed by layer), the per-layer metrics, and the overhead of tracing on
the operation median (`op_p50_ms` untraced vs `trace.op_p50_ms`).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACE = os.path.join(ROOT, ".bench_build", "trace")


def run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", trace],
        cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} trace={trace} failed:\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(HERE, "LAYERS.md"))
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    nproc = os.cpu_count()
    lines = [
        "# Per-layer table (one traced run per workload)",
        "",
        f"Generated by `python3 perfbench/layers.py --seed {a.seed}` on a "
        f"{nproc}-core host (Spark local[{nproc}]), {spec['run_seconds']} s "
        "runs. Self time is a span's duration minus its children's, summed "
        "by layer (see NOTES.md for the span schema). Layer metrics that are "
        "0 on a workload are omitted.",
        ""]
    for w in spec["workloads"]:
        name = w["name"]
        plain = run(name, a.seed, spec["run_seconds"], "0")
        traced = run(name, a.seed, spec["run_seconds"], "1")
        table = json.load(open(os.path.join(TRACE, f"{name}.layers.json")))
        p50 = plain["metrics"]["op_p50_ms"]["value"]
        tp50 = traced["metrics"]["trace.op_p50_ms"]["value"]
        lines += [f"## {name}", "",
                  f"Operation median untraced {p50:.1f} ms, traced "
                  f"{tp50:.1f} ms: tracing overhead {100 * (tp50 / p50 - 1):+.1f}% "
                  f"({plain['attempted']} and {traced['attempted']} operations, "
                  "one run each; read it against the run-to-run spread in "
                  "BASELINE.json before taking it as the cost of tracing).", "",
                  "| layer | spans | total ms | self ms |", "|---|---:|---:|---:|"]
        for layer, v in sorted(table.items(), key=lambda kv: -kv[1]["self_ms"]):
            lines.append(f"| {layer} | {v['spans']} | {v['total_ms']:.0f} | "
                         f"{v['self_ms']:.0f} |")
        lines += ["", "| layer metric | value | unit |", "|---|---:|---|"]
        for m, v in traced["metrics"].items():
            if v["value"]:
                lines.append(f"| {m} | {v['value']:.6g} | {units[m]} |")
        if name == "curation_heavy":
            lines += ["", "Per query, medians over the passes:", "",
                      "| query | wall ms | in jobs ms | driver ms | jobs |",
                      "|---|---:|---:|---:|---:|"]
            queries = os.path.join(TRACE, f"{name}.queries.json")
            for q, v in json.load(open(queries)).items():
                lines.append(f"| {q} | {v['wall_ms']:.0f} | {v['in_jobs_ms']:.0f} "
                             f"| {v['driver_ms']:.0f} | {v['jobs']:.0f} |")
        lines.append("")
    with open(a.out, "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
