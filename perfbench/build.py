#!/usr/bin/env python3
"""Builds the engine (src/main/scala) and the benchmark (perfbench/src) from
source with the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py        # prints the classes directory

Output goes to .bench_build/perfbench/ under the repository root. A stamp
over every source file skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir}")
    return jars_dir, jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found: {engine}")
    found = []
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles if needed; returns (classes dir, runtime classpath list)."""
    jars_dir, jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    runtime_cp = [classes] + jars
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes, runtime_cp
    compiler = [os.path.join(jars_dir, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise BuildError(f"Scala {SCALA_VERSION} compiler jars missing: {missing}")
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", os.pathsep.join(jars),
           "-d", tmp] + srcs
    print(f"[perfbench] compiling {len(srcs)} Scala sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes, runtime_cp


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
