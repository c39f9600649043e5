"""Builds the program and the benchmark from source with the Scala
compiler that ships in Spark's jar directory, the directory build.sbt
names as `unmanagedBase`.

    python3 zarrbench/build.py

Compiles src/main/scala (the program), zarrbench/src and zarrbench/test
into .bench_build/classes in one scalac run. A stamp of every source's
content skips the build when nothing changed."""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")


def sources():
    out = []
    for root in ("src/main/scala", "zarrbench/src", "zarrbench/test"):
        out += sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    return out


def resources():
    root = "src/main/resources"
    return sorted(p for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def spark_jars():
    """The Spark jar directory build.sbt compiles against, or None."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return None
    return m.group(1) if m and os.path.isdir(m.group(1)) else None


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Returns 0 when the classes are up to date, else scalac's exit code."""
    if not os.path.isdir("src/main/scala") or spark_jars() is None:
        print("zarrbench: run from the root of a checkout whose build.sbt names the Spark jars",
              file=sys.stderr)
        return 2
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + resources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return 0
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES] + srcs
    rc = subprocess.call(cmd, stdout=sys.stderr)
    if rc != 0:
        return rc
    for p in resources():
        dst = os.path.join(CLASSES, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return 0


if __name__ == "__main__":
    sys.exit(build())
