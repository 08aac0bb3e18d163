#!/usr/bin/env python3
"""Benchmark of graft's plan runs and query engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_many_plans --seed 1 --seconds 15 --trace 0

It builds the engine with the harness in `perfbench/` (sbt, offline), then
runs one workload in one JVM at local[nproc] and prints report lines and, as
the last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`. `--trace 0` gives the end-to-end metrics, `--trace 1` the
per-layer ones. The exit code is non-zero when any output check fails, when
the run fails, or when the checkout holds no engine sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join("src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORK = os.path.join(BENCH, "work")
DATA = os.path.join(BENCH, "data", "sf0.01")
WORKLOADS = ("extract_many_plans", "query_mix")
HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the engine compiles and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME to a Spark installation")
    return home


def build(spark):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})", 1)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def reset_work():
    """Clears what earlier runs left, keeping the staged fixtures."""
    for d in ("lake", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    ledger = os.path.join(WORK, "ledger")
    if os.path.isdir(ledger):
        for n in os.listdir(ledger):
            if n.startswith("iter-"):
                os.remove(os.path.join(ledger, n))


def declared_metrics(trace):
    """(name, unit) pairs BENCHMARK.json declares for this mode, if present."""
    if not os.path.exists("BENCHMARK.json"):
        return None
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(SRC, "graft")):
        fail(f"no engine sources under {SRC}; run from the root of a graft checkout")
    if not os.path.isdir(DATA):
        fail(f"fixture tables missing under {DATA}")
    spark = spark_home()
    build(spark)
    reset_work()

    spark_jars = os.path.join(spark, "jars", "*")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES, spark_jars]), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--work", WORK,
            "--cpus", str(os.cpu_count() or 1)]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s", 1)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    if proc.returncode != 0 or result is None:
        fail(f"run failed (exit {proc.returncode})", 1)

    declared = declared_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if declared is not None and got != declared:
        fail(f"metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(declared.items())}", 3)
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
