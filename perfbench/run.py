#!/usr/bin/env python3
"""Build the engine with the benchmark driver, then run one benchmark run.

    python3 perfbench/run.py --workload <pip_tile|geojson_rewrite|knn_rounds>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Every build output, input file and trace
is kept under .bench_build/ in the checkout. The last line of stdout is the
run's JSON result; the exit code is 0 only when the run finished and every
correctness gate passed.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SBT_TARGET = os.path.join(ROOT, ".bench_build", "sbt")
WORKLOADS = ("pip_tile", "geojson_rewrite", "knn_rounds")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# Spark 4 on JDK 17 needs these outside spark-submit (the launcher's
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build compiles, so a stale build is redone."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_env():
    env = dict(os.environ)
    if not env.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    return env


def run_group(cmd, cwd, env, timeout, stderr=None):
    """Run cmd in its own process group and wait for it; on timeout kill the
    whole group (sbt and java start children) and return (None, output)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        return None, out


def build(env):
    """Compile once per source state; returns the runtime classpath."""
    stamp_file = os.path.join(SBT_TARGET, "stamp.txt")
    cp_file = os.path.join(SBT_TARGET, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.boot.lock=false",
           "writeClasspath"]
    code, out = run_group(cmd, BENCH, env, BUILD_TIMEOUT_S, stderr=subprocess.STDOUT)
    if code is None:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out[-20000:])
        fail("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(cp_file) as fh:
        return fh.read().strip()


def result_line(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return obj if isinstance(obj, dict) and set(obj) == keys else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a full checkout: the engine sources are missing")
    env = spark_env()
    classpath = build(env)

    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--cpus", str(cpus)])
    code, out = run_group(cmd, ROOT, env, RUN_TIMEOUT_S)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")

    traces = os.path.join(work, "traces")
    if os.path.isdir(traces):
        keep = os.path.join(BUILD, "traces")
        os.makedirs(keep, exist_ok=True)
        for f in os.listdir(traces):
            shutil.move(os.path.join(traces, f), os.path.join(keep, f))
    shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    result = None
    for line in lines:
        if result_line(line) is None:
            print(line)
        else:
            result = line
    if result is None:
        fail(f"no result line (exit code {code})", code=code or 3)
    print(result)
    sys.exit(code)


if __name__ == "__main__":
    main()
