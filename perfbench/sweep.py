#!/usr/bin/env python3
"""Run workloads over several seeds and summarise each metric's spread.

Usage (from the root of a checkout):
    python3 perfbench/sweep.py --out RESULTS.json [--workloads a,b]
                               [--seeds 1-10] [--trace 0|1]

Runs perfbench/run.py once per (workload, seed), in that order, with the
run_seconds of BENCHMARK.json. Writes RESULTS.json:
    {"trace": 0, "runs": {workload: [{"seed": n, "correct": ..,
     "attempted": .., "failed": .., "metrics": {...}}, ...]}}
and prints, per workload and metric, the median and the spread (distance
between the first and third quartile as a share of the median) next to the
metric's bound. Exits non-zero if a run fails or is incorrect.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

from diff import spread


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def summarise(results, bench):
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    lines = []
    for wl, runs in results["runs"].items():
        ok = sum(1 for r in runs if r.get("correct"))
        lines.append(f"{wl}: {len(runs)} runs, {ok} correct")
        names = sorted({k for r in runs for k in r.get("metrics", {})})
        for name in names:
            vals = [r["metrics"][name]["value"] for r in runs if name in r.get("metrics", {})]
            b = bounds.get(name)
            s = spread(vals)
            flag = ""
            if b is not None:
                flag = "ok" if s <= b / 3 else ("within bound" if s <= b else "TOO WIDE")
            lines.append(f"  {name:32s} median {statistics.median(vals):12.6g}  "
                         f"spread {s:7.4f}  bound {b if b is not None else '-':>5}  {flag}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    results = {"trace": args.trace, "runs": {w: [] for w in workloads}}
    bad = 0
    for wl in workloads:
        for seed in parse_seeds(args.seeds):
            cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last) if p.returncode == 0 else None
            except json.JSONDecodeError:
                res = None
            if res is None:
                print(f"{wl} seed {seed}: run failed (exit {p.returncode})", file=sys.stderr)
                bad += 1
                continue
            bad += 0 if res["correct"] else 1
            res["seed"] = seed
            results["runs"][wl].append(res)
            print(f"{wl} seed {seed}: " + ", ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), file=sys.stderr)
            with open(args.out, "w") as f:
                json.dump(results, f, indent=1)
    print(summarise(results, bench))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
