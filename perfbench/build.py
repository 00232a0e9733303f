#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships in Spark's jars directory, into the jar
.bench_build/perfbench-<hash>/perfbench.jar. The hash covers every
source file, so an unchanged tree is compiled once per checkout. (A jar,
not a class directory, so the JVM can map the run's classes from a
class-data-sharing archive; see run.py.)

    python3 perfbench/build.py      # prints the jar's path

Spark is found through SPARK_HOME, or else through spark-submit on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
BUILD_ROOT = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        if not os.path.isdir(root):
            raise SystemExit(f"perfbench: missing source directory {root}")
        for d, _, files in os.walk(root):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the jar."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.abspath(os.path.join(BUILD_ROOT, "perfbench-" + h.hexdigest()[:16]))
    jar = os.path.join(out, "perfbench.jar")
    if os.path.isfile(jar):
        return jar
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("perfbench: compile failed")
    os.makedirs(out, exist_ok=True)
    tmp_jar = f"{jar}.tmp{os.getpid()}"
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.replace(tmp_jar, jar)
    return jar


if __name__ == "__main__":
    print(build())
