#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/perfbench/classes.

A build is skipped when the digest of every source file matches the last
build's. Run it alone with `python3 perfbench/build.py`.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"perfbench: engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench", "src", "*.scala")))
    if not files:
        sys.exit("perfbench: no Scala sources to build")
    return files


def digest(root, files):
    h = hashlib.sha256()
    res = os.path.join(root, "src", "main", "resources")
    extra = sorted(p for p in glob.glob(os.path.join(res, "**"), recursive=True) if os.path.isfile(p))
    for f in files + extra + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure(root):
    """Build if the sources changed; returns (classes dir, jars dir, source digest)."""
    jars = spark_jars()
    files = sources(root)
    d = digest(root, files)
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "digest")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == d:
        return classes, jars, d
    # private to this process, so two builds in one checkout cannot collide
    staging = "%s.tmp%d" % (classes, os.getpid())
    os.makedirs(staging)
    argfile = os.path.join(out, "sources%d.txt" % os.getpid())
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", staging, "-classpath", cp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    try:
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            sys.exit("perfbench: build failed")
        res = os.path.join(root, "src", "main", "resources")
        if os.path.isdir(res):
            shutil.copytree(res, staging, dirs_exist_ok=True)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(staging, classes)
    finally:
        os.remove(argfile)
        shutil.rmtree(staging, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(d)
    return classes, jars, d


if __name__ == "__main__":
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(ensure(here)[0])
