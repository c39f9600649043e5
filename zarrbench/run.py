"""Zarr connector benchmark: one run of one workload.

    python3 zarrbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark
from source on first use (zarrbench/build.py), then runs one workload in
a single JVM with Spark at local[N], where N is SPARK_GRAFT_CPUS or else
the number of CPUs this process may run on. Inputs, Spark scratch space
and temp files live in .bench_build/work/<pid> and are removed when the
run ends. The last line of stdout is the run's JSON result."""

import argparse
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env else len(os.sched_getaffinity(0))


def java(main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-Xss4m", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), main] + args
    return subprocess.call(cmd)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    rc = build.build()
    if rc != 0:
        return rc
    work = os.path.abspath(os.path.join(build.BUILD, "work", str(os.getpid())))
    try:
        return java("zarrbench.Main",
                    ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", a.trace, "--work", work, "--cpus", str(cpus())], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
