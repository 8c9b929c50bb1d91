#!/usr/bin/env python3
"""Run the fsstspark benchmark from the root of a checkout.

    python3 perfbench/run.py --workload pages_rewrite --seed 1 --seconds 10 --trace 0

--workload is pages_rewrite, catalog_mixed, or all (both workloads in one
JVM). The script builds the engine and the benchmark if needed
(perfbench/build.py), runs one JVM in local[nproc], passes its output
through, and exits with the JVM's status. The last line of output
is the result object; the lines before it hold one JSON object per
workload with metrics, units and run context.
"""
import argparse
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
WORKLOADS = ["pages_rewrite", "catalog_mixed"]
# per workload; a single run must end within 180 s including the build
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    classes = build.build()
    tmp = os.path.join(".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [build.java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+UseParallelGC", "-XX:NewRatio=1", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.abspath(tmp),
        "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties"),
        "-Duser.language=en", "-Duser.country=US",
        "-cp", os.pathsep.join([classes, "src/main/resources", os.path.join(build.spark_jars(), "*")]),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
    ]
    # Spark would put its scratch space in SPARK_LOCAL_DIRS, outside the checkout
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        os._exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    timeout = JVM_TIMEOUT_S * (len(WORKLOADS) if a.workload == "all" else 1)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: the run exceeded {timeout} s and was stopped", file=sys.stderr)
        return 3
    sys.stdout.write(out)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
