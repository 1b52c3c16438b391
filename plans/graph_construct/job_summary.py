"""Per-query job summary of one traced perfbench operation.

Reads the trace.json that `perfbench/run.py --trace 1` leaves in
`.bench_build/last/<workload>-trace1/` and prints, for each query of the
traced operation, its construction time and its jobs grouped by call site
(count and summed job wall time).

    python3 plans/graph_construct/job_summary.py <trace.json>
"""
import collections
import json
import sys

t = json.load(open(sys.argv[1]))
spans = {s["id"]: s for s in t["spans"]}
jobs_by_span = collections.defaultdict(list)
for j in t["jobs"]:
    jobs_by_span[j["span"]].append(j)


def under(sid, root):
    while sid != -1:
        if sid == root:
            return True
        sid = spans[sid]["parent"]
    return False


traced = {j["span"] for j in t["jobs"]}
ops = [s for s in t["spans"] if s["parent"] == -1 and any(under(x, s["id"]) for x in traced)]
total = collections.Counter()
for op in ops:
    print(f"operation {op['name']}: {op['end_ms'] - op['start_ms']:.0f} ms")
    for q in (s for s in t["spans"] if s["parent"] == op["id"]):
        kids = [s for s in t["spans"] if s["parent"] == q["id"]]
        construct = sum(s["end_ms"] - s["start_ms"] for s in kids if s["name"] == "construct")
        js = [j for sid in spans if under(sid, q["id"]) for j in jobs_by_span[sid]]
        print(f"  {q['name']}: {q['end_ms'] - q['start_ms']:.0f} ms, construct "
              f"{construct:.0f} ms, {len(js)} jobs")
        by = collections.defaultdict(list)
        for j in js:
            by[j["name"]].append(j["end_ms"] - j["start_ms"])
        for name, ms in sorted(by.items()):
            print(f"    {len(ms):3d} x {name:<45} {sum(ms):7.0f} ms")
            total[name] += len(ms)
print("jobs by call site:")
for name, n in total.most_common():
    print(f"  {n:3d}  {name}")
