#!/usr/bin/env python3
"""Interleaved A/B of the pipeline benchmark across two checkouts.

Usage:
    python3 tools/perfbench_ab.py --base <checkout> --change <checkout> \\
        --workload incremental --seeds 101-110 [--seconds 10] [--trace 0] \\
        [--out runs.jsonl]
    python3 tools/perfbench_ab.py --base <checkout> --change <checkout> \\
        --registry q121_docsource_count,q149_docsource_metadata_agg \\
        --sf-dir <sfDir> --seeds 1-5 [--cpus 4] [--out runs.jsonl]
    python3 tools/perfbench_ab.py --report runs.jsonl

Each seed is one pair: `perfbench/run.py` runs once in each checkout with
the same arguments, back to back, in one JVM each. The side that runs first
alternates from pair to pair, so a drift of the machine over the session
falls on both sides alike. Every run is appended to `--out` (JSON lines) as
soon as it ends; a later call with the same `--out` skips the runs already
there, and `--report` prints the summary of a file without running
anything.

Per workload and metric the summary gives each side's median and quartiles,
the difference of the medians, the base side's interquartile range, and the
number of pairs in which the change was better (direction from the change
checkout's BENCHMARK.json). Runs that perfbench marked `contended`, and runs
that failed or had failed calls, are listed below the table. Only
`perfbench/run.py` is invoked; nothing under `perfbench/` is changed.

`--registry` runs the registry bench (`graft.Bench`) instead, limited to the
named queries (`SPARK_GRAFT_BENCH_ONLY`), over `--sf-dir` with `--cpus`
cores, in one JVM per run. The seed is then only the pair's number. Each
checkout is compiled once per source state (`sbt compile` plus its runtime
classpath, cached in `<checkout>/.registry_build/`); every run starts `java`
on that classpath with the JVM options of the checkout's `build.sbt` run.
The metrics are the queries' bench times in seconds (each run's `queries`
entry: the minimum of its measured passes; lower is better), and a query
that failed counts as a failed call.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

SIDES = ("base", "change")
REGISTRY = "registry"
# the JVM options build.sbt gives `sbt run` (Spark 4 on JDK 17 needs the
# opens when a session starts outside spark-submit)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    rec = {"returncode": proc.returncode, "result": None, "contention": None}
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode == 0 and lines and lines[-1].startswith("{"):
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr_tail"] = proc.stderr[-2000:]
    for l in lines:
        if l.startswith("perfbench-contention "):
            rec["contention"] = json.loads(l[len("perfbench-contention "):])
    return rec


def registry_classpath(checkout):
    """Compiles the checkout once per source state; returns its classpath."""
    build = os.path.join(checkout, ".registry_build")
    h = hashlib.sha256()
    roots = [os.path.join(checkout, "src", "main"), os.path.join(checkout, "build.sbt")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, checkout).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file, cp_file = os.path.join(build, "stamp"), os.path.join(build, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(build, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=checkout, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    with open(os.path.join(build, "build.log"), "w") as fh:
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.exit("registry build failed in %s, see %s" % (checkout, os.path.join(build, "build.log")))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def run_registry(checkout, classpath, queries, sf_dir, cpus):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g"),
            "-XX:ReservedCodeCacheSize=" + os.environ.get("SPARK_CODE_CACHE", "512m"),
            "-cp", classpath, "graft.Bench"]
    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=",".join(queries),
               SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=str(cpus))
    proc = subprocess.run(cmd, cwd=checkout, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    rec = {"returncode": proc.returncode, "result": None, "contention": None}
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if lines:
        bench = json.loads(lines[-1])
        errors = bench.get("errors", {})
        rec["result"] = {
            "metrics": {q: {"value": t, "unit": "s"} for q, t in bench["queries"].items()},
            "failed": len(errors), "attempted": len(queries), "errors": errors,
            "loadavg": [bench.get("loadavg_start"), bench.get("loadavg_end")]}
    if proc.returncode != 0 or not lines:
        rec["stderr_tail"] = proc.stderr[-2000:]
    return rec


def load(path):
    runs = []
    if path and os.path.exists(path):
        with open(path) as fh:
            runs = [json.loads(l) for l in fh if l.strip()]
    return runs


def directions(checkout):
    """metric -> "lower"/"higher", from the checkout's BENCHMARK.json."""
    path = os.path.join(checkout, "BENCHMARK.json") if checkout else ""
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        b = json.load(fh)
    return {m["name"]: m["better"] for m in b.get("end_to_end", []) + b.get("per_layer", [])}


def value(metric):
    """A metric's number: perfbench reports {"value": x, "unit": u}."""
    return metric.get("value") if isinstance(metric, dict) else metric


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4, method="inclusive")
    return q1, q2, q3


def report(runs, better):
    by_key = {}
    for r in runs:
        by_key.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    for workload in sorted({w for w, _ in by_key}):
        pairs = [(s, p) for (w, s), p in sorted(by_key.items())
                 if w == workload and all(p.get(x, {}).get("result") for x in SIDES)]
        print("== %s: %d complete pairs (seeds %s)" % (
            workload, len(pairs), ",".join(str(s) for s, _ in pairs)))
        if not pairs:
            continue
        metrics = sorted(set.intersection(*[
            set(p[x]["result"]["metrics"]) for _, p in pairs for x in SIDES]))
        print("%-32s %28s %28s %11s %10s %6s" % (
            "metric", "base median [q1, q3]", "change median [q1, q3]",
            "delta", "base IQR", "wins"))
        for m in metrics:
            vals = {x: [value(p[x]["result"]["metrics"][m]) for _, p in pairs] for x in SIDES}
            if not all(isinstance(v, (int, float)) for x in SIDES for v in vals[x]):
                continue
            qb, qc = quartiles(vals["base"]), quartiles(vals["change"])
            way = "lower" if workload == REGISTRY else better.get(m)
            wins = "-"
            if way in ("lower", "higher"):
                sign = -1 if way == "lower" else 1
                wins = "%d/%d" % (sum(1 for b, c in zip(vals["base"], vals["change"])
                                      if sign * (c - b) > 0), len(pairs))
            print("%-32s %28s %28s %+11.4g %10.4g %6s" % (
                m, "%.4g [%.4g, %.4g]" % (qb[1], qb[0], qb[2]),
                "%.4g [%.4g, %.4g]" % (qc[1], qc[0], qc[2]),
                qc[1] - qb[1], qb[2] - qb[0], wins))
        print("failed calls: " + ", ".join("%s %d of %d" % (
            x, sum(p[x]["result"]["failed"] for _, p in pairs),
            sum(p[x]["result"]["attempted"] for _, p in pairs)) for x in SIDES))
    flagged = [r for r in runs if (r.get("contention") or {}).get("contended")]
    for r in flagged:
        c = r["contention"]
        print("contended: %s seed %d %s (drift %+.3f, steal %s)" % (
            r["workload"], r["seed"], r["side"], c["drift"], c["steal_share"]))
    for r in runs:
        if not r.get("result"):
            print("no result: %s seed %d %s (exit %d)" % (
                r["workload"], r["seed"], r["side"], r["returncode"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", help="checkout the change is measured against")
    ap.add_argument("--change", help="checkout with the change")
    ap.add_argument("--workload", action="append", default=[],
                    help="perfbench workload; repeat for several")
    ap.add_argument("--seeds", help="one pair per seed: 101-110 or 1,4,7")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--registry", help="graft.Bench A/B over these registry queries (comma separated)")
    ap.add_argument("--sf-dir", help="registry mode: the scale-factor data directory")
    ap.add_argument("--cpus", default=str(os.cpu_count()), help="registry mode: SPARK_GRAFT_CPUS")
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--report", help="summarize this JSON-lines file and exit")
    args = ap.parse_args()

    if args.report:
        report(load(args.report), directions(args.change or "."))
        return
    if args.registry:
        if not (args.base and args.change and args.seeds and args.sf_dir):
            ap.error("--base, --change, --seeds and --sf-dir are required with --registry")
        args.workload = [REGISTRY]
    elif not (args.base and args.change and args.workload and args.seeds):
        ap.error("--base, --change, --workload and --seeds are required to run")
    roots = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
    if args.registry:
        queries = [q.strip() for q in args.registry.split(",") if q.strip()]
        classpaths = {x: registry_classpath(roots[x]) for x in SIDES}
    runs = load(args.out)
    done = {(r["workload"], r["seed"], r["side"]) for r in runs if r.get("result")}
    n = 0
    for workload in args.workload:
        for seed in parse_seeds(args.seeds):
            order = SIDES if n % 2 == 0 else SIDES[::-1]
            n += 1
            for side in order:
                if (workload, seed, side) in done:
                    continue
                if workload == REGISTRY:
                    rec = run_registry(roots[side], classpaths[side], queries,
                                       args.sf_dir, args.cpus)
                    rec.update(workload=workload, seed=seed, side=side, first=order[0],
                               queries=queries, cpus=args.cpus)
                else:
                    rec = run_one(roots[side], workload, seed, args.seconds, args.trace)
                    rec.update(workload=workload, seed=seed, side=side, first=order[0],
                               seconds=args.seconds, trace=args.trace)
                runs.append(rec)
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
                m = (rec["result"] or {}).get("metrics", {})
                if workload == REGISTRY:
                    print("%s pair %d %-6s %s" % (workload, seed, side, " ".join(
                        "%s=%.3f" % (q.split("_")[0], value(v)) for q, v in sorted(m.items()))),
                        flush=True)
                else:
                    print("%s seed %d %-6s cycle_s=%s contended=%s" % (
                        workload, seed, side, value(m.get("cycle_s")),
                        (rec["contention"] or {}).get("contended")), flush=True)
    report(runs, directions(roots["change"]))


if __name__ == "__main__":
    main()
