#!/usr/bin/env python3
"""Builds the benchmark: the engine's main sources (src/main/scala) and the
benchmark's own JVM program (perfbench/scala) compiled together with the
Scala compiler that ships in Spark's jar directory ($SPARK_HOME/jars, or
the one beside spark-submit on the PATH).
No sbt, no dependency resolution, no network.

Output goes to perfbench/out/classes. A stamp holding the hash of every
source file and of the compiler jar makes the build a no-op until a
source changes.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars() -> str:
    """$SPARK_HOME/jars, else the jars/ beside a bin/ on the PATH that holds
    spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for h in homes:
        if h and os.path.isdir(os.path.join(h, "jars")):
            return os.path.join(h, "jars")
    raise SystemExit("build: Spark's jars/ not found (set SPARK_HOME to a Spark 4 install)")


def sources() -> list:
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"build: engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def compiler_jars(jars: str) -> list:
    out = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
        if not hits:
            raise SystemExit(f"build: {name}-2.13.*.jar not in {jars}")
        out.append(hits[-1])
    return out


def classpath() -> str:
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build() -> str:
    """Compiles if any source changed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    comp = compiler_jars(jars)
    h = hashlib.sha256()
    for f in comp:
        h.update(os.path.basename(f).encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return classpath()
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return classpath()


if __name__ == "__main__":
    os.makedirs(OUT, exist_ok=True)
    print(build())
