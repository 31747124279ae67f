#!/usr/bin/env python3
"""Knowledge-graph construction benchmark for graft.

Usage (from the repository root):

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source (`make -C perfbench` with
scalac from $SPARK_HOME/jars, output under `.bench_build/`), then runs one
workload in one JVM at local[<nproc>].
`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer metrics
of a traced run (spans go to `.bench_build/traces/`). Each metric is printed
on its own line with its unit; the last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exit code 0 means the outputs were checked and correct; 3 means the
correctness gate failed; any other non-zero code means the run could not
complete (no result line is printed then).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("kg_dense", "kg_daily")
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jars, $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME")
    return os.path.join(home, "jars") if home else None


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build(jars):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources not found at src/main/scala/graft; run from a full checkout")
    if not jars or not os.path.isdir(jars):
        fail("Spark jars not found (set SPARK_HOME)")
    r = subprocess.run(["make", "-s", "-C", HERE, f"OUT={BUILD}", f"SPARK_JARS={jars}"],
                       stdout=sys.stderr, timeout=850)
    if r.returncode != 0:
        fail("build failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.path.join(BUILD, "classes") + os.pathsep + os.path.join(jars, "*")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--traces", os.path.join(BUILD, "traces")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"no result line (exit code {proc.returncode})", proc.returncode or 1)
    if proc.returncode not in (0, 3) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"run failed (exit code {proc.returncode})", proc.returncode or 1)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
