#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload ohlcv_daily --seed 1 --seconds 40 --trace 0

Builds the engine (`src/main/scala`) and the benchmark
(`perfbench/src/main/scala`) with the Scala compiler that ships in Spark's
jars, generates the fixed input tables once, then runs `perfbench.Main` in a
fresh JVM. Everything it writes lives under `perfbench/work/`; the run's
scratch (JVM temp dir, `spark.local.dir`) is emptied before and after. The
last line of standard output is the result JSON. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(WORK, "classes")
DATA = os.path.join(WORK, "data")
SCRATCH = os.path.join(WORK, "run")
OUT = os.path.join(WORK, "out")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(HERE, "src", "main")
RUN_TIMEOUT_S = 170
RESULT_PREFIX = '{"correct"'
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the engine build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("cannot find Spark's jars: set SPARK_HOME")


def sources(*roots):
    found = []
    for r in roots:
        for ext in ("scala", "java"):
            found += glob.glob(os.path.join(r, "**", f"*.{ext}"), recursive=True)
    return sorted(found)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_child(cmd, timeout, echo=False):
    """Run `cmd` in its own process group, echoing its stdout lines (the
    result line excepted) when `echo`; kill the group on timeout or
    interrupt. Returns (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=ROOT)
    lines = []

    def pump():
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if echo and not line.startswith(RESULT_PREFIX):
                print(line, flush=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    old = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...", 3)
    except KeyboardInterrupt:
        kill()
        raise
    finally:
        signal.signal(signal.SIGTERM, old)
        reader.join(timeout=10)
    return proc.returncode, lines


def compile_sources(jars, srcs, out, classpath, salt=""):
    """Compile `srcs` into `out` against `classpath` with the Scala
    compiler in Spark's jars, unless they (and `salt`) are unchanged since
    the last compile there. Returns the stamp of this compile."""
    key = stamp(srcs) + salt
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return key
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [os.path.join(jars, j) for j in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13.*\.jar$", j)]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources into {os.path.relpath(out, ROOT)}",
          file=sys.stderr)
    rc, lines = run_child(cmd, 600)
    if rc != 0:
        print("\n".join(lines), file=sys.stderr)
        fail("compile failed")
    with open(stamp_file, "w") as f:
        f.write(key)
    return key


def build(jars):
    """Compile engine + benchmark into perfbench/work/classes."""
    return compile_sources(jars, sources(ENGINE_SRC, BENCH_SRC), CLASSES,
                           [os.path.join(jars, "*")])


def java_cmd(jars, main, args, heap="2g", classpath=()):
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
            + [f"-Djava.io.tmpdir={os.path.join(SCRATCH, 'tmp')}",
               f"-Dspark.local.dir={os.path.join(SCRATCH, 'local')}",
               "-Dspark.ui.enabled=false",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", os.pathsep.join([CLASSES, *classpath, os.path.join(jars, "*")]), main]
            + args)


def fresh_scratch():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(SCRATCH, d))


def generate(jars):
    """Write the fixed input tables once per generator version."""
    gen = os.path.join(BENCH_SRC, "scala", "perfbench")
    key = stamp([os.path.join(gen, "GenData.scala"), os.path.join(gen, "Session.scala")])
    stamp_file = os.path.join(DATA, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return
    shutil.rmtree(DATA, ignore_errors=True)
    fresh_scratch()
    tmp = DATA + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    rc, out = run_child(java_cmd(jars, "perfbench.GenData", [tmp]), 300)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    if rc != 0:
        print("\n".join(out), file=sys.stderr)
        fail("input generation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(key)
    os.rename(tmp, DATA)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="accepted and not used: each workload runs a fixed number of passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    build(jars)
    generate(jars)

    fresh_scratch()
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--out", OUT,
            "--golden", os.path.join(HERE, "golden.tsv")]
    try:
        rc, out = run_child(java_cmd(jars, "perfbench.Main", args), RUN_TIMEOUT_S, echo=True)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    result = [l for l in out if l.startswith(RESULT_PREFIX)]
    if rc not in (0, 1) or not result:
        fail(f"benchmark JVM exited with code {rc}", rc or 2)
    print(result[-1], flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
