#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program and the harness.

The program's Scala sources (`src/main/scala`) and the harness sources
(`perfbench/src`) are compiled together with the Scala compiler that ships
in Spark's jar directory, into `.bench_build/classes`. A stamp file holds a
hash of every input, so a later run in the same checkout reuses the classes
and a changed source rebuilds them.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the list matches the program's build.sbt.
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
    """Spark's jar directory: $SPARK_HOME/jars, else that of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep) if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def java_opens():
    return [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def sources(base):
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def program_sources(root="."):
    return sources(os.path.join(root, "src", "main"))


def classes_dir(root, unit):
    return os.path.join(root, BUILD_DIR, f"classes-{unit}")


def classpath(root="."):
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    parts = [classes_dir(root, "program"), classes_dir(root, "harness")]
    res = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(res):
        parts.append(res)
    parts.append(os.path.join(spark_jars(), "*"))
    return os.pathsep.join(parts)


def _compile(srcs, base, out, cp, salt):
    """Compile `srcs` into `out` unless its stamp matches their hash."""
    h = hashlib.sha256(salt.encode())
    for f in srcs:
        h.update(os.path.relpath(f, base).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = out + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    shutil.rmtree(out, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(out)
    print(f"build: compiling {len(srcs)} sources into {out}", file=sys.stderr)
    jars = spark_jars()
    scala_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    scalac = ["java", "-Xss8m", "-Xmx2g", "-cp", scala_cp, "scala.tools.nsc.Main",
              "-nowarn", "-d", out, "-classpath", cp] + srcs
    subprocess.run(scalac, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest)


def build(root="."):
    """Compile what changed since the last build; return seconds spent."""
    import time
    t0 = time.time()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("build: no program sources (src/main/scala) in this directory")
    jars = os.path.join(spark_jars(), "*")
    program = classes_dir(root, "program")
    _compile(program_sources(root), root, program, jars, "")
    # the harness is rebuilt whenever the program is: its stamp covers both
    with open(program + ".stamp") as fh:
        program_digest = fh.read()
    _compile(sources(os.path.join(HERE, "src")), HERE, classes_dir(root, "harness"),
             program + os.pathsep + jars, program_digest)
    return time.time() - t0


if __name__ == "__main__":
    print(f"built in {build():.1f} s", file=sys.stderr)
