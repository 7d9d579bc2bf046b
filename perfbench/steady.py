#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly, each run a fresh process on
the same commit with its own seed, and print per metric the median, the
quartiles, the spread (IQR / median) and the min/max ratio. Run from the
repository root:

    python3 perfbench/steady.py [--workloads rag,ann,operators] [--runs 10]
        [--first-seed 1] [--trace 0|1] [--seconds S] [--json out.json]

A spread should stay under a third of the metric's bound in
BENCHMARK.json; the last column says which end-to-end metrics do not. With
--trace 1 the per-layer figures are listed, and the tracing overhead of
the end-to-end metrics is shown against a --baseline JSON of an untraced
set. Counts should repeat exactly for a seed; times should not.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys

LINE = re.compile(r"^  (\S+) = (\S+) (\S+)$")


def one_run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    final = json.loads(lines[-1])
    values = {}
    for ln in lines:
        m = LINE.match(ln)
        if m:
            values[m.group(1)] = (float(m.group(2)), m.group(3))
    return final, values


def summarize(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
            "minmax": min(vals) / max(vals) if max(vals) else 1.0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="rag,ann,operators")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, help="run length (default: BENCHMARK.json's)")
    ap.add_argument("--json", help="write every run's values here")
    ap.add_argument("--baseline", help="an untraced set's --json, for tracing overhead")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = args.seconds or spec["run_seconds"]
    base = json.load(open(args.baseline)) if args.baseline else {}
    out = {}
    for w in args.workloads.split(","):
        runs = []
        for i in range(args.runs):
            final, values = one_run(w, args.first_seed + i, seconds, args.trace)
            runs.append({"attempted": final["attempted"], "failed": final["failed"],
                         "values": {k: v[0] for k, v in values.items()},
                         "units": {k: v[1] for k, v in values.items()}})
            print(f"{w} seed {args.first_seed + i}: attempted {final['attempted']} "
                  f"failed {final['failed']}", flush=True)
        out[w] = runs
        print(f"\n== {w}: {args.runs} runs, failed share "
              f"{sorted(set(r['failed'] / r['attempted'] for r in runs))}")
        print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} "
              f"{'min/max':>7}  verdict")
        for name in runs[0]["values"]:
            vals = [r["values"][name] for r in runs if name in r["values"]]
            s = summarize(vals)
            verdict = ""
            if name in bounds:
                verdict = "steady" if s["spread"] < bounds[name] / 3 else (
                    "within bound" if s["spread"] <= bounds[name] else "NOT STEADY")
            if name in bounds and w in base:
                bvals = [r["values"][name] for r in base[w]]
                verdict += f" overhead {s['median'] / statistics.median(bvals) - 1:+.1%}"
            print(f"{name:34} {s['median']:12.6g} {s['q1']:12.6g} {s['q3']:12.6g} "
                  f"{s['spread']:7.3f} {s['minmax']:7.3f}  {verdict}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh)


if __name__ == "__main__":
    main()
