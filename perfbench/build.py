"""Build file of the graft benchmark.

Compiles graft's own sources (`src/main/scala`) together with the
benchmark's (`perfbench/src`) with the Scala 2.13 compiler that ships in
Spark's jars directory, against those same jars — the toolchain and
classpath `build.sbt` uses (its `unmanagedBase`), without sbt. Output goes to
`.bench_build/graftbench/classes` in the checkout and is rebuilt only
when a source file changes.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt's
    `unmanagedBase` names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read() if os.path.exists(sbt) else "")
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BuildError("graft sources (src/main/scala/graft) not found: "
                         "run from the root of a graft checkout")
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found")
    return exe


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compiles if any source changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return classpath()
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))
                for p in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars under {jars}")
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[graftbench] compiling {len(files)} Scala files", file=log, flush=True)
    cmd = [java(), "-XX:-UsePerfData", "-Xmx3g", "-Xss16m",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + argfile]
    proc = subprocess.run(cmd, stdout=log, stderr=log, timeout=850)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited {proc.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
