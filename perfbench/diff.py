#!/usr/bin/env python3
"""Compare two benchmark result files, per workload and metric.

Usage (from the root of a checkout):
    python3 perfbench/diff.py BEFORE.json AFTER.json

Each file is what perfbench/sweep.py writes: several runs per workload.
Counters (units count and bytes) are compared exactly: equal, or the
before and after values. Other metrics are compared by median against the
metric's bound in BENCHMARK.json: "unresolved" when either side's spread
(interquartile range over median) is wider than the bound, else "worse" or
"better" when the median moved by more than the bound, else "same". A
per-layer metric has no bound; its change is printed with its spread.
"""
import json
import statistics
import sys

COUNTER_UNITS = {"count", "bytes"}


def spread(values):
    """Interquartile range as a share of the median; infinite, so never
    within a bound, for fewer than two values or a zero median."""
    if len(values) < 2:
        return float("inf")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def values(doc, wl, name):
    return [r["metrics"][name]["value"] for r in doc["runs"].get(wl, [])
            if name in r.get("metrics", {})]


def judge(before, after, unit, bound, better):
    """One line of verdict for a metric's before/after values."""
    if unit in COUNTER_UNITS:
        a, b = sorted(set(before)), sorted(set(after))
        if len(a) > 1 or len(b) > 1:
            return f"counter varies between runs: before {a}, after {b}"
        if a == b:
            return f"same ({a[0]:.0f})"
        return f"changed {a[0]:.0f} -> {b[0]:.0f} ({b[0] - a[0]:+.0f})"
    ma, mb = statistics.median(before), statistics.median(after)
    change = (mb - ma) / ma if ma else float("inf")
    worse = change if better == "lower" else -change
    sa, sb = spread(before), spread(after)
    text = f"{ma:.4g} -> {mb:.4g} ({change:+.1%}, spread {sa:.1%} / {sb:.1%})"
    if bound is None:
        return text
    if max(sa, sb) > bound:
        return f"unresolved: {text}, wider than bound {bound:.0%}"
    if worse > bound:
        return f"worse: {text}, bound {bound:.0%}"
    if worse < -bound:
        return f"better: {text}, bound {bound:.0%}"
    return f"same: {text}, bound {bound:.0%}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        before = json.load(f)
    with open(sys.argv[2]) as f:
        after = json.load(f)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    meta = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    for wl in sorted(set(before["runs"]) | set(after["runs"])):
        print(wl)
        names = sorted({k for d in (before, after) for r in d["runs"].get(wl, [])
                        for k in r.get("metrics", {})})
        for name in names:
            a, b = values(before, wl, name), values(after, wl, name)
            if not a or not b:
                print(f"  {name:32s} only in {'after' if b else 'before'}")
                continue
            m = meta.get(name, {})
            unit = m.get("unit") or next(r["metrics"][name]["unit"] for r in before["runs"][wl]
                                         if name in r["metrics"])
            print(f"  {name:32s} " + judge(a, b, unit, m.get("bound"), m.get("better", "lower")))


if __name__ == "__main__":
    main()
