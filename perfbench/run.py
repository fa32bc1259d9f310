#!/usr/bin/env python3
"""Pipeline benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine's sources together with the
harness in perfbench/ (sbt, offline); later runs reuse that build until a
source file changes. Each run starts one JVM, prints the harness's
`perfbench-report` line and a `perfbench-contention` line, and then, as the
last line, the result object. See perfbench/README.md.
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
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("migrate", "incremental")
# the run may not take longer than this, set-up included (the build is not)
RUN_TIMEOUT_S = 175
# a calibration drift, or a share of CPU time stolen by other guests, beyond
# this marks the run contended
CONTENTION_BOUND = 0.1
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=800)
        log.write(proc.stdout)
    if proc.returncode != 0:
        fail("build failed, see " + log_path)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath, see " + log_path)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def calibrate():
    """Best of five runs of a fixed single-thread loop, in seconds."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(1000000):
            x = (x * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [a - b for a, b in zip(after, before)]
    return d[7] / sum(d) if sum(d) else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail("run from the root of a checkout of the engine (no src/main/scala/graft here)")

    classpath = build()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed 2 GB heap (not pre-touched) with a fixed 512 MB young
    # generation and a fixed old-generation marking threshold, so that
    # neither the heap's size nor its layout depends on GC pause times
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-G1UseAdaptiveIHOP", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work]

    load_before = os.getloadavg()
    calib_before = calibrate()
    cpu_before = cpu_times()
    log_path = os.path.join(BUILD, "logs", "%s-%d-trace%s.log" % (args.workload, args.seed, args.trace))
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail("run exceeded %d s, see %s" % (RUN_TIMEOUT_S, log_path))
    shutil.rmtree(work, ignore_errors=True)
    steal = steal_share(cpu_before, cpu_times())
    calib_after = calibrate()
    load_after = os.getloadavg()

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail("harness exited %d without a result, see %s" % (proc.returncode, log_path))
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    drift = calib_after / calib_before - 1.0
    print("perfbench-contention " + json.dumps({
        "loadavg_before": load_before, "loadavg_after": load_after,
        "calibration_s_before": calib_before, "calibration_s_after": calib_after,
        "drift": drift, "bound": CONTENTION_BOUND, "steal_share": steal,
        "contended": abs(drift) > CONTENTION_BOUND or (steal or 0.0) > CONTENTION_BOUND}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
