#!/usr/bin/env python3
"""Benchmark of the telemetry pipeline and the query registry.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the harness from source with sbt (once per source
state), runs one workload in its own JVM, checks its outputs and prints,
as the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Untraced runs report the
end-to-end metrics of BENCHMARK.json, traced runs the per-layer ones.
The line before it stamps the run (commit, dirty flag, cores, load,
JVM and Spark versions); a copy of both, with the spans of a traced run,
is kept under perfbench/.runs/. The run's work directory under
perfbench/.work/ is removed when it ends; a failed run prints the tail
of its log. See perfbench/README.md.
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
HARNESS = os.path.join(HERE, "harness")
BUILD_STAMP = os.path.join(HARNESS, "target", "perfbench-build.json")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# JDK 17 needs these for Spark outside spark-submit (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the program's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    project = os.path.join(ROOT, "project")
    files += [os.path.join(project, f) for f in sorted(os.listdir(project))
              if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness when the sources changed; return the
    runtime class path and the source hash."""
    digest = source_hash()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == digest:
            return stamp["classpath"], digest
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HARNESS, env=sbt_env(), capture_output=True,
                           text=True, timeout=BUILD_TIMEOUT_S,
                           stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as fh:
        json.dump({"sources": digest, "classpath": cp}, fh)
    return cp, digest


def git_stamp():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if sha.returncode != 0:
            return None, None
        st = subprocess.run(["git", "status", "--porcelain", "--", "src",
                             "build.sbt", "project", "perfbench"], cwd=ROOT,
                            capture_output=True, text=True, timeout=10)
        return sha.stdout.strip(), bool(st.stdout.strip())
    except (OSError, subprocess.TimeoutExpired):
        return None, None


def run_jvm(cp, main, args, work, timeout):
    """Run a harness main in its own process group; kill the whole group
    (generator JVMs included) if it outlives the timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-cp", cp, main] + args)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    return rc


def tail(path, n=3000):
    try:
        with open(path, errors="replace") as fh:
            return fh.read()[-n:]
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail(f"no program sources under {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {workloads}")

    cores = len(os.sched_getaffinity(0))
    load0 = os.getloadavg()[0]
    cp, digest = build()
    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            rc = run_jvm(cp, "perfbench.GateTests", [], work, RUN_TIMEOUT_S)
            print(tail(os.path.join(work, "jvm.log")))
            sys.exit(0 if rc == 0 else 1)
        out = os.path.join(work, "result.json")
        rc = run_jvm(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work,
            "--data", os.path.join(HERE, "registry", "data"),
            "--out", out], work, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(tail(os.path.join(work, "jvm.log")))
            fail(f"workload {a.workload} exited with {rc}")
        with open(out) as fh:
            res = json.load(fh)
        spans = os.path.join(work, "spans.json")
        span_data = None
        if os.path.exists(spans):
            with open(spans) as fh:
                span_data = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    if set(res["metrics"]) != set(units):
        fail(f"metrics {sorted(res['metrics'])} do not match {kind} {sorted(units)}")
    if not all(isinstance(v, (int, float)) and math.isfinite(v)
               for v in res["metrics"].values()):
        fail(f"a metric was not measured: {res['metrics']}")
    sha, dirty = git_stamp()
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "sha": sha, "dirty": dirty,
             "sources": digest, "nproc": cores,
             "load_start": load0, "load_end": os.getloadavg()[0],
             "jvm": res["info"].get("jvm"), "spark": res["info"].get("spark"),
             "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {k: {"value": res["metrics"][k], "unit": units[k]}
                        for k in units}}
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{name}.json"), "w") as fh:
        json.dump({"stamp": stamp, "result": line, "info": res["info"],
                   "spans": span_data}, fh)
    print(json.dumps({"stamp": stamp, "info": res["info"]}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
