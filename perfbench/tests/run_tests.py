#!/usr/bin/env python3
"""Run the benchmark's own tests from the repository root:

    python3 perfbench/tests/run_tests.py

Compiles the harness and tests/SelfTest.scala against graft's compiled
classes (target/scala-2.13/classes from `sbt compile`; if absent, the
benchmark's own cached build) and the Spark jars, runs them, then
runs the generator tests.
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402


def main():
    root = os.getcwd()
    jars = run.spark_jars(root)
    graft = os.path.join(root, "target/scala-2.13/classes")
    if not os.path.isdir(graft):
        graft = run.build(root, jars)[1]
    _, bench = run.sources(root)
    with tempfile.TemporaryDirectory() as out:
        run.scalac(jars, [graft], out, bench + [os.path.join(HERE, "SelfTest.scala")])
        cmd = (["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-Xmx1g", "-cp", ":".join([out, graft] + jars), "perfbench.SelfTest"])
        scala_ok = subprocess.run(cmd, cwd=out).returncode == 0
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    py_ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    sys.exit(0 if scala_ok and py_ok else 1)


if __name__ == "__main__":
    main()
