#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny scale (about five minutes).

    python3 perfbench/selftest.py

Checks, for every workload, that an untraced run prints every end-to-end
metric of BENCHMARK.json with its unit and a traced run every per-layer
metric, both with a correct verdict; that the traced run gives a non-zero
value for every layer metric of its own workload (see OWN_LAYERS) except
the ones that are 0 on a healthy run; and that a planted wrong answer (one
stored hashtags file deleted before serving) is caught: the serve run
reports failed operations and `correct: false`. Exits non-zero on the
first violation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The layers each workload exercises (perfbench/NOTES.md), and the layer
# metrics that are 0 on a healthy run: no spill at these sizes, and no row
# dropped by the watermark.
OWN_LAYERS = {
    "ingest_serve": ("ingest.", "stream.", "agg.", "store.", "serve.", "jvm.",
                     "trace."),
    "curation_heavy": ("ops.", "jvm.", "trace."),
}
ZERO_WHEN_HEALTHY = {"agg.spill_bytes", "ops.spill_bytes",
                     "stream.rows_dropped_by_watermark"}
# The curation loop collects the whole heap after every query (the heap
# probe, outside the timed region), and no query allocates a young
# generation of the fixed 3 GB heap in between: no collection runs while a
# query does, so its GC time is 0 until a query allocates that much.
ZERO_ON_WORKLOAD = {"curation_heavy": {"jvm.gc_ms"}}


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--scale", "tiny",
           *extra]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=400)
    if r.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: exit {r.returncode}\n"
                 f"{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in spec["workloads"]:
        for trace, section in (("0", "end_to_end"), ("1", "per_layer")):
            out = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics {got}"
            assert out["correct"] and out["failed"] == 0, (w["name"], out)
            assert out["attempted"] >= 1, (w["name"], out)
            if trace == "1":
                zero = [m for m, v in out["metrics"].items()
                        if m.startswith(OWN_LAYERS[w["name"]])
                        and m not in ZERO_WHEN_HEALTHY
                        and m not in ZERO_ON_WORKLOAD.get(w["name"], ())
                        and not v["value"]]
                assert not zero, f"{w['name']}: own layer metrics are 0: {zero}"
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{out['attempted']} operations")
    out = run("ingest_serve", "0", "--plant", "store_file")
    ratio = out["failed"] / out["attempted"]
    assert not out["correct"] and ratio > 0, out
    print(f"ok planted fault caught: failed_ratio {ratio:.2f}")


if __name__ == "__main__":
    main()
