#!/usr/bin/env python3
"""Run the benchmark's unit tests (perfbench/src/test).

    python3 perfbench/test.py

The tests are compiled and run the way run.py compiles and runs the
benchmark: the same Scala compiler from Spark's jars, the same classpath
and the same JVM flags, plus ScalaTest from the local coursier cache
($COURSIER_CACHE, else ~/.cache/coursier), as the engine's own tests use.
"""
import glob
import os
import shutil
import sys

import run

TEST_SRC = os.path.join(run.HERE, "src", "test")
TEST_CLASSES = os.path.join(run.WORK, "test-classes")
SCALATEST = "3.2.19"
ARTIFACTS = ["scalatest-core_2.13", "scalatest-funsuite_2.13",
             "scalatest-compatible", "scalactic_2.13"]


def scalatest_jars():
    cache = os.environ.get("COURSIER_CACHE", os.path.expanduser("~/.cache/coursier"))
    found = []
    for a in ARTIFACTS:
        hits = glob.glob(os.path.join(cache, "**", a, SCALATEST, f"{a}-{SCALATEST}.jar"),
                         recursive=True)
        if not hits:
            run.fail(f"{a} {SCALATEST} not found under {cache}")
        found.append(sorted(hits)[0])
    return found


def main():
    jars = run.spark_jars()
    main_key = run.build(jars)
    scalatest = scalatest_jars()
    run.compile_sources(jars, run.sources(TEST_SRC), TEST_CLASSES,
                        [run.CLASSES, *scalatest, os.path.join(jars, "*")], salt=main_key)
    run.fresh_scratch()
    try:
        rc, _ = run.run_child(
            run.java_cmd(jars, "org.scalatest.tools.Runner", ["-R", TEST_CLASSES, "-oD"],
                         classpath=[TEST_CLASSES, *scalatest]),
            600, echo=True)
    finally:
        shutil.rmtree(run.SCRATCH, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
