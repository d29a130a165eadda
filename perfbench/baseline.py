#!/usr/bin/env python3
"""Combine two independent spread.py result sets into BASELINE.json.

    python3 perfbench/baseline.py SET1.json SET2.json [--out perfbench/BASELINE.json]

For every end-to-end metric and workload it records each set's median and
interquartile range as a share of the median, the shift between the two
medians, and the bound those figures support: the larger of the two
spreads and the shift, which must stay within the bound BENCHMARK.json
fixes.
"""
import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(vs):
    q1, _, q3 = statistics.quantiles(vs, n=4)
    return (q3 - q1) / statistics.median(vs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sets", nargs=2)
    ap.add_argument("--out", default=os.path.join(HERE, "BASELINE.json"))
    ap.add_argument("--note", default="")
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = [json.load(open(p)) for p in a.sets]
    summary = {}
    for w in sets[0]["values"]:
        summary[w] = {}
        for m in bounds:
            v1, v2 = sets[0]["values"][w][m], sets[1]["values"][w][m]
            m1, m2 = statistics.median(v1), statistics.median(v2)
            s1, s2 = spread(v1), spread(v2)
            shift = abs(m2 - m1) / m1
            summary[w][m] = {
                "median": [round(m1, 4), round(m2, 4)],
                "iqr_over_median": [round(s1, 4), round(s2, 4)],
                "median_shift": round(shift, 4),
                "derived_bound": round(max(s1, s2, shift), 4),
                "bound": bounds[m],
            }
    out = {"note": a.note, "host_cpus": os.cpu_count(),
           "run_seconds": spec["run_seconds"], "runs_per_set": len(
               next(iter(next(iter(sets[0]["values"].values())).values()))),
           "summary": summary, "sets": sets}
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for w, ms in summary.items():
        for m, s in ms.items():
            print(f"{w:16} {m:18} medians {s['median']} spreads "
                  f"{s['iqr_over_median']} shift {s['median_shift']} "
                  f"bound {s['bound']}")


if __name__ == "__main__":
    main()
