"""Runs the benchmark's own tests (zarrbench/test/SelfTest.scala).

    python3 zarrbench/test.py

Run from the root of a checkout; builds first, like run.py."""

import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

if __name__ == "__main__":
    rc = build.build()
    if rc == 0:
        work = os.path.abspath(os.path.join(build.BUILD, "work", "test-%d" % os.getpid()))
        try:
            rc = run.java("zarrbench.SelfTest", [], work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)
