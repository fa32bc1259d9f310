#!/usr/bin/env python3
"""Interleaved A/B of the pipeline benchmark across two checkouts.

Usage:
    python3 tools/perfbench_ab.py --base <checkout> --change <checkout> \\
        --workload incremental --seeds 101-110 [--seconds 10] [--trace 0] \\
        [--out runs.jsonl]
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
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("base", "change")


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
        print("%-28s %28s %28s %11s %10s %6s" % (
            "metric", "base median [q1, q3]", "change median [q1, q3]",
            "delta", "base IQR", "wins"))
        for m in metrics:
            vals = {x: [value(p[x]["result"]["metrics"][m]) for _, p in pairs] for x in SIDES}
            if not all(isinstance(v, (int, float)) for x in SIDES for v in vals[x]):
                continue
            qb, qc = quartiles(vals["base"]), quartiles(vals["change"])
            way = better.get(m)
            wins = "-"
            if way in ("lower", "higher"):
                sign = -1 if way == "lower" else 1
                wins = "%d/%d" % (sum(1 for b, c in zip(vals["base"], vals["change"])
                                      if sign * (c - b) > 0), len(pairs))
            print("%-28s %28s %28s %+11.4g %10.4g %6s" % (
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
    ap.add_argument("--out", help="JSON-lines file the runs are appended to")
    ap.add_argument("--report", help="summarize this JSON-lines file and exit")
    args = ap.parse_args()

    if args.report:
        report(load(args.report), directions(args.change or "."))
        return
    if not (args.base and args.change and args.workload and args.seeds):
        ap.error("--base, --change, --workload and --seeds are required to run")
    roots = {"base": os.path.abspath(args.base), "change": os.path.abspath(args.change)}
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
                rec = run_one(roots[side], workload, seed, args.seconds, args.trace)
                rec.update(workload=workload, seed=seed, side=side, first=order[0],
                           seconds=args.seconds, trace=args.trace)
                runs.append(rec)
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
                m = (rec["result"] or {}).get("metrics", {})
                print("%s seed %d %-6s cycle_s=%s contended=%s" % (
                    workload, seed, side, value(m.get("cycle_s")),
                    (rec["contention"] or {}).get("contended")), flush=True)
    report(runs, directions(roots["change"]))


if __name__ == "__main__":
    main()
