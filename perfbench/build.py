#!/usr/bin/env python3
"""Build the program and the benchmark from source with the Scala compiler
that ships with Spark.

    python3 perfbench/build.py

Run from the repository root. Compiles `src/main/scala` (the program) and
`perfbench/src` (the benchmark) into `.bench_build/perfbench/classes`, and
skips the compile when no source changed since the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


SCALA_VERSION = "2.13.17"


def spark_jars():
    """Spark's jar directory, which also holds the Scala compiler: SPARK_HOME's,
    else that of the first spark-submit on PATH that ships the compiler."""
    if os.environ.get("SPARK_HOME"):
        homes = [os.environ["SPARK_HOME"]]
    else:
        homes = [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.exists(os.path.join(jars, f"scala-compiler-{SCALA_VERSION}.jar")):
            return jars
    raise SystemExit(f"build: set SPARK_HOME to a Spark whose jars include scala-compiler-{SCALA_VERSION}")


SPARK_JARS = spark_jars()
BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "sources.sha256")
SOURCE_DIRS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "src")]


def classpath():
    """Classpath to run the benchmark: its classes, then Spark's jars."""
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d} (run from the repo root)")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if a source changed; return the run classpath."""
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath()
    compiler = [os.path.join(SPARK_JARS, f"scala-{j}-{SCALA_VERSION}.jar")
                for j in ("compiler", "library", "reflect")]
    for jar in compiler:
        if not os.path.exists(jar):
            raise SystemExit(f"build: missing {jar}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark_cp = os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", spark_cp] + files
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    build()
