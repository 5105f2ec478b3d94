#!/usr/bin/env python3
"""Build the benchmark: compile the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/perfbench/classes under the current directory.

Run from the root of a checkout:  python3 perfbench/build.py
A build whose sources and compiler are unchanged is skipped.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"
OUT = os.path.join(".bench_build", "perfbench")


def spark_jars():
    """The jars of the Spark install at $SPARK_HOME, or else of the jar
    directory the repo's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME", "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars and os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found: set SPARK_HOME to a Spark install")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join("src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join("perfbench", "src", "**", "*.scala"), recursive=True))
    if not program:
        raise SystemExit("no program sources under src/main/scala: run from the root of a checkout")
    return program + harness


def classpath():
    """Runtime class path: the compiled classes, then Spark's jars."""
    return os.pathsep.join([os.path.join(OUT, "classes")] + spark_jars())


def build():
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for path in srcs + jars:
        digest.update(path.encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(OUT, "classes.stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA_VERSION}.jar", f"scala-library-{SCALA_VERSION}.jar",
        f"scala-reflect-{SCALA_VERSION}.jar")]
    if len(compiler) != 3:
        raise SystemExit(f"Scala {SCALA_VERSION} compiler jars not found among the Spark jars")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-classpath", os.pathsep.join(jars), "-d", classes, "-nowarn"] + srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit("compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
    sys.exit(0)
