"""Summarizes RegimeProbe JSON lines: per operator and side, the median
and range of the seconds, the content hashes seen, and for an A/B the
change of the medians and in how many pairs the after side was faster.
Usage: python3 summary.py <out.jsonl>"""
import json
import statistics
import sys

runs = [json.loads(l) for l in open(sys.argv[1]) if l.startswith("{")]
ops = []
for r in runs:
    if r["op"] not in ops:
        ops.append(r["op"])
for op in ops:
    by = {}
    for r in runs:
        if r["op"] == op:
            by.setdefault((r["side"], r["node_limit"]), []).append(r)
    med = {}
    for (side, limit), rs in by.items():
        s = [r["s"] for r in rs]
        med[side] = statistics.median(s)
        hashes = sorted({(r["rows"], r["hash"]) for r in rs})
        print(f"{op:<10} {side:<14} node_limit={limit:<8} n={len(s):<3} "
              f"median {med[side]:7.2f} s  range [{min(s):.2f}, {max(s):.2f}]  "
              f"runs {', '.join(f'{x:.2f}' for x in s)}  rows,hash {hashes}")
    if "before" in med and "after" in med:
        b = [r["s"] for r in by[next(k for k in by if k[0] == "before")]]
        a = [r["s"] for r in by[next(k for k in by if k[0] == "after")]]
        wins = sum(x < y for x, y in zip(a, b))
        print(f"{op:<10} after vs before: {100 * (med['after'] / med['before'] - 1):+.1f}% "
              f"in the median, after faster in {wins}/{min(len(a), len(b))} pairs")
