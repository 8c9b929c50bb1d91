#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
and the benchmark sources (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in Spark's jars directory. Run from the root of
the checkout; rebuilds only when a source file changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"
SOURCE_DIRS = ("src/main/scala", "perfbench/src")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark not found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: java not found; set JAVA_HOME")
    return exe


def sources():
    files = []
    for d in SOURCE_DIRS:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile if needed and return the classes directory."""
    if not os.path.isdir("src/main/scala/fsstspark"):
        raise SystemExit("perfbench: no engine sources under src/main/scala; run from the root of a checkout")
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    classes = os.path.join(OUT, "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
