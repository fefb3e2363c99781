#!/usr/bin/env python3
"""Build the benchmark: compile the engine's sources (src/main/scala) and
the benchmark's own (perfbench/scala) into one class directory with the
Scala compiler that ships in Spark's jar directory. No sbt, no network.

Output goes to .bench_build/ at the checkout root (or $CARGO_TARGET_DIR
when set, relative to the root). A content stamp over every source file
skips the compile when nothing changed.

Usage: python3 perfbench/build.py        (prints the class directory)
"""
import glob
import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of a Spark install whose bin/ is on
    PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(":")
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit(
            f"perfbench: engine sources not found at {engine}; run from a "
            "checkout of the repository")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"),
                             recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return files


def build():
    """Compile if needed; return (class dir, classpath)."""
    files = sources()
    jars = spark_jars()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp = f"{out}{os.pathsep}{jars}/*"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out, cp
    if os.path.isdir(out):
        subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", f"{jars}/*"] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out, cp


if __name__ == "__main__":
    print(build()[0])
