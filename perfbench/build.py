#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM harness (perfbench/scala) with scalac into
``.bench_build/perfbench/classes``, against the Spark distribution's jars
(``$SPARK_HOME/jars``, default ``/opt/spark/jars``, the same jars build.sbt
uses). The build is skipped when a stamp of every source file matches the
last successful build.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "build.stamp")

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main, harness


def resources():
    return os.path.join(ROOT, "src", "main", "resources")


def classpath():
    return os.pathsep.join([CLASSES, resources(), os.path.join(spark_jars(), "*")])


def java_opts():
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns the classpath. Raises on failure."""
    main, harness = sources()
    if not main:
        raise RuntimeError(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not os.path.isdir(spark_jars()):
        raise RuntimeError(f"Spark jars not found at {spark_jars()} (set SPARK_HOME)")
    want = stamp(main + harness)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + harness) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", os.path.join(spark_jars(), "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(main)} engine + {len(harness)} harness sources",
          file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        print(res.stdout[-20000:], file=log)
        raise RuntimeError("scalac failed")
    with open(STAMP, "w") as f:
        f.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
