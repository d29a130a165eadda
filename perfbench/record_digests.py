#!/usr/bin/env python3
"""Record the oracle digests the curation workload is checked against.

Replays each query's `SparkEntry.oracleSql` in DuckDB over the curation
tables (perfbench/data/sf0.1) and over the sample the self-test runs on,
and writes the digest of every oracle result (normalised as tools/check.py
compares results) to perfbench/curation_digests.json.

    python3 perfbench/record_digests.py

Re-record only when the tables, the sample, the query set or an oracle SQL
changes; a program change must never need new digests.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def main():
    import duckdb
    classes = build.build()
    work = os.path.join(build.OUT, "run", "record-digests")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run.run_jvm(classes, work, ["--workload", "dump_oracle", "--seed", "0",
                                    "--seconds", "0", "--trace", "0"])
        oracle = json.load(open(os.path.join(work, "trace", "oracle_sql.json")))
        sample = os.path.join(work, "sample")
        run.write_sample(sample)
        digests = {}
        for corpus, path in (("sf0.1", run.CORPUS), ("sample", sample)):
            con = duckdb.connect()
            for t, _ in run.SAMPLE:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}/{t}.parquet'")
            for name, sql in sorted(oracle.items()):
                rel = con.execute(sql)
                cols = [d[0] for d in rel.description]
                rows = rel.fetchall()
                digests[f"{corpus}/{name}"] = run.digest_rows(cols, rows)
                print(f"{corpus}/{name}: {len(rows)} rows", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "curation_digests.json"), "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
