#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {bbdc,registry} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source tree. The first run builds the engine's
sources together with the benchmark code (perfbench/build.sbt); later
runs reuse the build until a source file changes. The run generates the
workload's inputs from the seed, starts one JVM on local[4] that sets up,
measures a closed loop for S seconds and checks every output, and prints
the result as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 1 the metrics are the per-layer ones and the spans go to
.bench_build/perfbench/runs/<workload>-<seed>-trace.json. Everything the run
writes stays under .bench_build/ in the tree.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
STAMP = os.path.join(HERE, "target", "perfbench-classpath.txt")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def classpath(env):
    """Build if any source is newer than the last build; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found next to perfbench/")
    if os.path.exists(STAMP) and all(os.path.getmtime(p) <= os.path.getmtime(STAMP) for p in sources()):
        return open(STAMP).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(STAMP, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["bbdc", "registry"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the build or the JVM is killed and
    # waited for on the way out
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))

    env = dict(os.environ, SPARK_HOME=spark_home())
    cp = classpath(env)

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    inputs = os.path.join(BUILD, "inputs", tag)
    work = os.path.join(BUILD, "work", tag)
    for d in (inputs, work):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    if a.workload == "bbdc":
        gen.bbdc(inputs, a.seed)
    else:
        gen.registry(inputs, a.seed, os.path.join(HERE, "data", "sf0.01"),
                     os.path.join(HERE, "expected", "registry.tsv"))

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", a.workload, inputs, str(a.seconds), str(a.trace), work]
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
    lines = [line for line in out.splitlines() if line.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"{a.workload} run exited with {proc.returncode}")
    result = json.loads(lines[-1])

    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    if a.trace:
        # tracing overhead: this traced wall_s against the untraced run of
        # the same workload and seed, when one was made in this tree
        trace = json.load(open(os.path.join(work, "trace.json")))
        plain = os.path.join(runs, f"{a.workload}-{a.seed}-0.json")
        roots = [r["wall_s"] for r in trace["roots"] if r["name"] == a.workload]
        untraced = json.load(open(plain))["metrics"]["wall_s"]["value"] if os.path.exists(plain) else None
        if roots and untraced is not None:
            trace["overhead_s"] = statistics.median(roots) - untraced
        with open(os.path.join(runs, f"{a.workload}-{a.seed}-trace.json"), "w") as f:
            json.dump(trace, f, indent=1)
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(result, f)
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s in the JVM", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
