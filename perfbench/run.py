#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload ingest_voter --seed 1 --seconds 20 --trace 0

The first run in a checkout builds the engine and the harness with sbt
(perfbench/build.sbt); later runs reuse the classpath while the sources are
unchanged. Each run is one JVM at local[nproc] driven by one client in a
closed loop. It prints a report and a context line, then, as the last line,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The exit code is 0 only when every output
check passed.
"""
import argparse
import hashlib
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
BUILD = os.path.join(HERE, "target", "bench")
WORKLOADS = ("ingest_voter", "snapshot_mutate")
HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
# what spark-submit passes to a JDK 17 driver
JDK_OPENS = [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
        "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # stray children of a finished run
        except ProcessLookupError:
            pass
    return proc.returncode


def source_files():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile engine and harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath-" + digest + ".txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out_path = os.path.join(BUILD, "build.out")
    with open(out_path, "w") as out, open(os.path.join(BUILD, "build.log"), "w") as err:
        code = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false",
                          "export perfbench/Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, stdout=out, stderr=err, env=env)
    with open(out_path) as fh:
        lines = [l.strip() for l in fh if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        fail("build failed (exit %s); see %s" % (code, out_path))
    cp = lines[-1]
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        fail("build printed a classpath with missing entries; see " + out_path)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (build.sbt, src/main/scala) not found next to " + HERE)
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at " + ROOT)
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace == "1" else "end_to_end"]

    digest = source_digest()
    cp = build(digest)

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", "%s-%d-%s-%d" % (args.workload, args.seed,
                                                       args.trace, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_LOCAL_DIRS"] = tmp
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JDK_OPENS + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + tmp,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", repr(args.seconds), "--trace", args.trace,
        "--work", work, "--result", result_path, "--t0-ns", str(time.time_ns())]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                         env=env)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("workload JVM %s; log kept at %s" % (
            "timed out" if code is None else "exited with %s" % code, log_path), 3)
    with open(result_path) as fh:
        res = json.load(fh)

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, "%s-seed%d-trace%s" % (args.workload, args.seed, args.trace))
    res["context"].update({"source_digest": digest, "git_commit": git_commit(),
                           "heap": HEAP, "nproc": nproc})
    with open(stem + ".json", "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    if os.path.exists(os.path.join(work, "spans.jsonl")):
        shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
    shutil.rmtree(work)

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None or (res["correct"] and not math.isfinite(v)):
            fail("the run did not produce metric %s" % m["name"])
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for line in res["report"]:
        print(line)
    for name, m in metrics.items():
        print("metric %s = %s %s" % (name, m["value"], m["unit"]))
    print("context " + json.dumps(res["context"], sort_keys=True))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
