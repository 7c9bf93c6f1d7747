#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload registry --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run owns a scratch directory under
perfbench/target/runs/ (Spark local dirs, java.io.tmpdir, warehouse dir,
snapshot tables) and deletes it when the JVM has exited. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
QUERIES = os.path.join(HERE, "queries.json")
# The registry's fixtures are fixed, so that expected.json can hold their
# outputs; the workload seed varies the query order instead.
FIXTURE_SEED, FIXTURE_SF = 42, 0.01
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, else the one
    beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    """Compile with sbt unless the recorded build is newer than every source."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            with open(CLASSPATH) as f:
                return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dperfbench.sparkJars=" + spark_jars(), "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=840)
    sys.stderr.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if "perfbench" in l and ".jar" in l]
    if out.returncode != 0 or not lines:
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def fixtures():
    """The registry fixtures, generated once per checkout."""
    sys.path.insert(0, HERE)
    import fixtures as gen
    d = os.path.join(TARGET, "fixtures", f"sf{FIXTURE_SF}-seed{FIXTURE_SEED}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, FIXTURE_SEED, FIXTURE_SF)
        open(os.path.join(d, "_done"), "w").close()
    return d


def run_jvm(classpath, jvm_args, work, timeout=JVM_TIMEOUT_S):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx3g",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", classpath, "graft.perfbench.Main"] + jvm_args)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the JVM did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src; run from a checkout of the repository")
    classpath = build()
    fx = fixtures()
    work = os.path.join(TARGET, "runs", f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    try:
        code, out = run_jvm(classpath, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixtures", fx, "--work", work,
            "--traces", os.path.join(TARGET, "traces"),
            "--queries", QUERIES,
            "--expected", os.path.join(HERE, "expected.json")], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if code != 0 or not results:
        sys.stderr.write(out)
        fail(f"the JVM exited with {code}")
    result = json.loads(results[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
