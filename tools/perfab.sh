#!/bin/bash
# Interleaved A/B of one perfbench workload between two checkouts. For each
# seed it runs the unmodified `perfbench/run.py --trace 0` once in each
# tree, alternating which side goes first, so that a burst of co-tenant
# load hits both sides of a pair or neither. Each run appends one JSON line
# (perfbench's result plus "side", "seed" and "rc") to the output file;
# then every end-to-end metric is summarized: median [Q1, Q3] per side, the
# change of the medians, and in how many seed pairs the after side was
# better.
# Usage:
#   tools/perfab.sh <before_tree> <after_tree> <workload> <seeds> [out.jsonl]
#       seeds: a range "11-20" or a list "1,2,5"
#   tools/perfab.sh --summary <out.jsonl>
set -u

summary() {
python3 - "$1" <<'EOF'
import json, statistics, sys
runs = [json.loads(l) for l in open(sys.argv[1]) if l.strip()]
by = {}
for r in runs:
    by.setdefault(r["side"], {})[r["seed"]] = r
for side in ("before", "after"):
    rs = by.get(side, {}).values()
    print(f"{side}: {len(rs)} runs, rc != 0 in {sum(r['rc'] != 0 for r in rs)}, "
          f"not correct in {sum(not r.get('correct') for r in rs)}, "
          f"failed operations {sum(r.get('failed', 0) for r in rs)}")
def quart(v):
    if len(v) < 2:
        return (v[0],) * 3 if v else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3
seeds = sorted(set(by.get("before", {})) & set(by.get("after", {})))
names = []
for r in runs:
    names += [n for n in r.get("metrics", {}) if n not in names]
print(f"{'metric':<14}{'before median [Q1, Q3]':>30}{'after median [Q1, Q3]':>30}"
      f"{'change':>9}{'after better':>14}")
for n in names:
    val = {s: {k: r["metrics"][n]["value"] for k, r in by.get(s, {}).items()
               if n in r.get("metrics", {})} for s in ("before", "after")}
    pairs = [k for k in seeds if k in val["before"] and k in val["after"]]
    wins = sum(val["after"][k] < val["before"][k] for k in pairs)
    (b1, b2, b3), (a1, a2, a3) = (quart(list(val[s].values())) for s in ("before", "after"))
    print(f"{n:<14}{f'{b2:.3f} [{b1:.3f}, {b3:.3f}]':>30}{f'{a2:.3f} [{a1:.3f}, {a3:.3f}]':>30}"
          f"{(a2 / b2 - 1) * 100 if b2 else float('nan'):>+8.1f}%{f'{wins}/{len(pairs)}':>14}")
EOF
}

if [ "${1:-}" = "--summary" ]; then summary "$2"; exit; fi
[ $# -ge 4 ] || { sed -n '2,13p' "$0"; exit 2; }
BEFORE="$1"; AFTER="$2"; WL="$3"; SEEDS="$4"; OUT="${5:-perfab-$WL-$4.jsonl}"
case "$SEEDS" in
  *-*) SEEDLIST=$(seq "${SEEDS%-*}" "${SEEDS#*-}") ;;
  *) SEEDLIST=$(tr ',' ' ' <<< "$SEEDS") ;;
esac
i=0
for seed in $SEEDLIST; do
  order="before after"; [ $((i % 2)) = 1 ] && order="after before"
  for side in $order; do
    tree="$BEFORE"; [ "$side" = after ] && tree="$AFTER"
    log="$OUT.$side.$seed.log"
    (cd "$tree" && python3 perfbench/run.py --workload "$WL" --seed "$seed" \
      --seconds 45 --trace 0) > "$log" 2>&1
    rc=$?
    python3 - "$log" "$side" "$seed" "$rc" >> "$OUT" <<'EOF'
import json, sys
log, side, seed, rc = sys.argv[1:]
lines = [l for l in open(log, errors="replace").read().splitlines() if l.startswith("{")]
try:
    r = json.loads(lines[-1])
except (IndexError, ValueError):
    r = {"correct": False, "metrics": {}}
r.update(side=side, seed=int(seed), rc=int(rc))
print(json.dumps(r))
EOF
    echo "seed $seed $side: rc $rc"
  done
  i=$((i + 1))
done
summary "$OUT"
