"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) into
.bench_build/classes with the Scala compiler that ships in the Spark
distribution's jars directory, the same jars the engine's sbt build
compiles against. Rebuilds only when a source file changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def jars_dir():
    """$SPARK_HOME/jars, else the engine build's `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("build: no Spark jars directory (set SPARK_HOME)")
    return m.group(1)


def sources():
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(jars_dir(), "*")])


def build():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {d} (run from the repository root)")
    srcs = sources()
    want = stamp(srcs)
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == want:
                return
    jars = jars_dir()
    compiler = [glob.glob(os.path.join(jars, f"scala-{k}-2.13*.jar"))
                for k in ("compiler", "library", "reflect")]
    if not all(compiler):
        sys.exit(f"build: no Scala 2.13 compiler jars in {jars}")
    if os.path.exists(STAMP):
        os.remove(STAMP)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(
        ["java", "-Xmx3g", "-Xss16m",
         "-cp", os.pathsep.join(c[0] for c in compiler),
         "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
         "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "@" + argfile],
        check=True, stdout=sys.stderr)
    with open(STAMP, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
