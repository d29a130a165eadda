#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--scale tiny] [--plant store_file]

Builds the program from source (perfbench/build.py), runs the workload in
one JVM (Spark local[nproc], one client thread), checks the outputs, and
prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every `end_to_end` metric of BENCHMARK.json (--trace 0) or every
`per_layer` metric (--trace 1), each with its unit. The traced run also
leaves its spans and per-layer self-time table under
.bench_build/trace/. Everything it writes stays under .bench_build/ of
the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# The curation tables: sf0.1 of the repository's test data, and the rows of
# it that make the sample.
CORPUS = os.path.join(HERE, "data", "sf0.1")
SAMPLE = [("documents", "doc_id < 1000"), ("embeddings", "vec_id < 400"),
          ("events", "event_id < 20000")]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def digest_rows(cols, rows):
    """Digest of a result, normalised the way tools/check.py compares
    results: columns sorted by name, rows fully sorted, floats exact."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return ("f", "nan") if math.isnan(v) else ("f", v)
        if isinstance(v, (list, dict)):
            raise TypeError("complex cell")
        return v
    body = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256(
        repr(([cols[i] for i in order], body)).encode()).hexdigest()


def digest(con, path):
    """Digest of a result directory written by the workload."""
    rel = con.execute(f"SELECT * FROM '{path}/*.parquet'")
    cols = [d[0] for d in rel.description]
    return digest_rows(cols, rel.fetchall())


def check_curation(outputs, corpus):
    """Count the curation results whose digest differs from the one
    recorded from the DuckDB oracle (perfbench/record_digests.py)."""
    import duckdb
    want = json.load(open(os.path.join(HERE, "curation_digests.json")))
    con = duckdb.connect()
    failed, notes = 0, []
    for name, path in outputs:
        try:
            ok = digest(con, path) == want.get(f"{corpus}/{name}")
        except Exception as e:  # unreadable result
            ok, name = False, f"{name} ({e})"
        if not ok:
            failed += 1
            notes.append(f"{name}: result differs from the oracle digest")
    return failed, notes


def write_sample(dst):
    """Write the curation sample, the self-test's corpus: the first rows of
    each sf0.1 table."""
    import duckdb
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for table, key in SAMPLE:
        con.execute(f"COPY (SELECT * FROM '{CORPUS}/{table}.parquet' "
                    f"WHERE {key} ORDER BY ALL) TO '{dst}/{table}.parquet' "
                    "(FORMAT parquet)")


def run_jvm(classes, work, argv):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + jars, "perfbench.Main",
            "--work", work] + argv)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, env=env, cwd=work)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: workload timed out")
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        sys.stderr.write(open(log_path).read()[-4000:])
        raise SystemExit(f"perfbench: workload exited {proc.returncode}")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    ap.add_argument("--plant", default="none")
    a = ap.parse_args()

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    classes = build.build()
    work = os.path.join(build.OUT, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        argv = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--scale", a.scale, "--plant", a.plant]
        corpus = "sample" if a.scale == "tiny" else "sf0.1"
        if a.workload == "curation_heavy":
            path = CORPUS
            if corpus == "sample":
                path = os.path.join(work, "sample")
                write_sample(path)
            argv += ["--corpus", path]
        r = run_jvm(classes, work, argv)
        failed, notes = r["failed"], r["notes"]
        if a.workload == "curation_heavy":
            f, n = check_curation(r["outputs"], corpus)
            failed, notes = failed + f, notes + n
        if a.trace == "1":
            trace_dir = os.path.join(build.OUT, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            for name in os.listdir(os.path.join(work, "trace")):
                shutil.copy(os.path.join(work, "trace", name), trace_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for note in notes:
        print(f"perfbench: {note}", file=sys.stderr)

    section = "per_layer" if a.trace == "1" else "end_to_end"
    values = r["per_layer"] if a.trace == "1" else r["end_to_end"]
    metrics = {}
    for m in spec[section]:
        if m["name"] not in values:
            raise SystemExit(f"perfbench: metric {m['name']} not reported")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
