#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark program
from source with sbt on first use (classpath cached under perfbench/target),
runs the benchmark JVM in a scratch directory of its own, deletes that
directory afterwards, and prints every metric by name with its unit. The
last line of standard output is one JSON object: correct, attempted, failed
and metrics -- the end_to_end metrics of BENCHMARK.json with --trace 0, the
per_layer metrics with --trace 1 (0 for a layer the workload does not use).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sync_schedule", "warehouse_queries", "corpus_dedup")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark on JDK 17 outside spark-submit needs these opens (the engine's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newer_than(path):
    stamp = os.path.getmtime(path)
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, files in os.walk(top):
            if any(os.path.getmtime(os.path.join(d, f)) > stamp for f in files):
                return True
    return any(os.path.getmtime(p) > stamp for p in
               (os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")))


def build(deadline):
    """Compile the engine and the benchmark with sbt; cache the runtime classpath."""
    if os.path.exists(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return open(CLASSPATH).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=max(30, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    lines = open(log).read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l and ":" in l]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    start = time.time()
    # a terminated run still stops what it started and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/ (run from a full checkout)")
    names = spec()["per_layer" if a.trace == "1" else "end_to_end"]
    built = not os.path.exists(CLASSPATH)
    cp = build(start + BUILD_LIMIT_S)
    # a run that had to build may take longer overall; the JVM itself
    # still gets the usual limit
    limit = RUN_LIMIT_S if built else max(30.0, RUN_LIMIT_S - (time.time() - start))

    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    heap = "2g"
    # a fixed, pre-touched heap: peak RSS then moves only with memory used
    # outside it, not with how far the collector happened to grow the heap
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", run_dir, "--out", out_dir])
    log = os.path.join(run_dir, "jvm.log")
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err,
                                    text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=limit)
            except subprocess.TimeoutExpired:
                fail("benchmark JVM timed out")
        lines = stdout.splitlines()
        result = [l for l in lines if l.startswith("result ")]
        if proc.returncode != 0 or not result:
            sys.stderr.write(open(log).read()[-4000:] + "\n".join(lines[-20:]) + "\n")
            fail(f"benchmark JVM failed (exit {proc.returncode})")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    measured = {}
    for l in lines:
        if l.startswith("metric "):
            _, name, value, unit, *note = l.split(" ", 4)
            measured[name] = (float(value), unit)
            print(f"{name} = {value} {unit} {' '.join(note)}".rstrip())
        elif not l.startswith("result "):
            print(l)
    res = json.loads(result[-1][len("result "):])
    metrics = {}
    for m in names:
        value = measured.get(m["name"], (None,))[0]
        if value is None and a.trace == "0":
            fail(f"benchmark JVM did not report {m['name']}")
        if value is None or math.isnan(value):
            # a layer this workload does not use; or no op succeeded, which
            # the JVM has already counted as failed
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
