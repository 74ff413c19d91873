#!/usr/bin/env python3
"""Provider benchmark for graft's Keycloak path.

Run from the root of a checkout:

    python3 perfbench/run.py --workload events --seed 1 --seconds 20 --trace 0

Builds the program and the harness from source (sbt, offline) on first
use, runs one workload in one JVM, and prints two lines: a detail JSON
object with every figure the run measured, then the result object
(correct, attempted, failed, metrics). With --trace 0 the metrics are
BENCHMARK.json's end_to_end ones, with --trace 1 its per_layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("events", "events-wide")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the same list the
# program's build.sbt passes to its own JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build: the program's and the
    harness's sources and build files."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """The harness's runtime classpath, building first if any source
    changed since the last build in this checkout."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "compile",
           "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                             stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def declared(trace):
    """BENCHMARK.json's metrics for this run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--master", default=None,
                    help="Spark master, e.g. local[1] for the single-threaded baseline")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program to build here ({need} missing)")
    cp = classpath()

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # temporary files (native libraries Spark's codecs unpack) stay in
    # the work directory; no JVM perf-data file is written
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(BENCH, "data"), "--work", work, "--out", out])
    if a.master:
        cmd += ["--master", a.master]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)

    def stop(*_):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run interrupted")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {JVM_TIMEOUT_S}s")
    if rc != 0 or not os.path.isfile(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run failed (exit {rc})")
    with open(out) as f:
        detail_line, result_line = f.read().splitlines()[:2]
    shutil.rmtree(work, ignore_errors=True)
    detail, result = json.loads(detail_line), json.loads(result_line)

    # Keep the declared metrics in the result; the rest go to the
    # detail line. A run that misses a declared metric is not correct.
    measured = result["metrics"]
    metrics = {}
    for m in declared(a.trace):
        if m["name"] in measured:
            metrics[m["name"]] = measured.pop(m["name"])
        else:
            result["correct"] = False
            detail.setdefault("problems", []).append(f"metric {m['name']} not measured")
    detail["other_metrics"] = measured
    result["metrics"] = metrics
    print(json.dumps(detail))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
