#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in the Spark jar directory, into
.perfbench/build/<source hash>/classes. A tree whose sources are unchanged
is not rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
STATE = os.path.join(ROOT, ".perfbench")


def spark_jars():
    """The jar directory the root build.sbt compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise BuildError("no Spark jar directory: build.sbt has no unmanagedBase and SPARK_HOME is unset")


class BuildError(Exception):
    pass


def sources():
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise BuildError(f"source directory missing: {os.path.relpath(base, ROOT)}")
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    if not any(f.startswith(ENGINE_SRC) for f in files):
        raise BuildError("no engine sources under src/main/scala")
    return sorted(files)


def classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise BuildError(f"no Scala compiler in {spark_jars()}")
    return jars


def build(log=sys.stderr):
    """Returns the classes directory, compiling first when needed."""
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(STATE, "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cp = os.pathsep.join(classpath())
    print(f"[build] compiling {len(files)} sources into {os.path.relpath(out, ROOT)}", file=log, flush=True)
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", os.path.join(tmp, "classes"), "-classpath", cp] + files,
        stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(os.path.join(STATE, "build", "*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
