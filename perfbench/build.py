#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) using the Scala compiler that ships in
the Spark distribution (`$SPARK_HOME/jars`, the same jars the program
builds against), into `.bench_build/classes` of the checkout. A content
stamp of every source makes repeated builds free.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")
    return jars


def sources(rel):
    found = []
    for base, _, files in os.walk(os.path.join(ROOT, rel)):
        found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    program = sources(os.path.join("src", "main", "scala"))
    bench = sources(os.path.join("perfbench", "src"))
    if not program or not bench:
        raise SystemExit("perfbench: program sources not found under src/main/scala")
    h = hashlib.sha256()
    for path in program + bench:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes] + program + bench))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
