#!/usr/bin/env python3
"""Compare two sides of an ABBA bench: per-query min across each side's
runs, ratio table, geomean, and the queries beyond a threshold.

Usage: ab_compare.py A_run1.jsonl A_run2.jsonl -- B_run1.jsonl B_run2.jsonl
(A = new/HEAD, B = old/baseline; ratio = A/B, <1 means A faster)
"""
import json, sys, math

def load(paths):
    out = {}
    for p in paths:
        for line in open(p):
            line = line.strip()
            if not line or '"query"' not in line:
                continue
            d = json.loads(line)
            if "sec" not in d:  # a failed query carries "err", no time
                continue
            q = d["query"]
            out[q] = min(out.get(q, float("inf")), d["sec"])
    return out

sep = sys.argv.index("--")
a = load(sys.argv[1:sep])
b = load(sys.argv[sep + 1:])
common = sorted(set(a) & set(b))
if not common:
    sys.exit("ab_compare: the two sides share no query with a time "
             f"(A has {len(a)}, B has {len(b)}); nothing to compare")
rows = [(q, a[q], b[q], a[q] / b[q] if b[q] > 0 else float("nan"))
        for q in common]
tot_a = sum(a[q] for q in common)
tot_b = sum(b[q] for q in common)
ratios = sorted(r for _, _, _, r in rows if math.isfinite(r) and r > 0)
if not ratios:
    sys.exit("ab_compare: no query has a finite positive A/B ratio")
geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
tot = f"{tot_a / tot_b:.3f}" if tot_b > 0 else "nan"
print(f"n={len(common)} total A={tot_a:.1f}s B={tot_b:.1f}s "
      f"ratio={tot} geomean={geo:.3f} (over {len(ratios)} finite ratios)")
print(f"median per-query ratio={ratios[len(ratios) // 2]:.3f}")
print("\n-- A slower than B by >20% (possible regressions) --")
for q, va, vb, r in sorted(rows, key=lambda x: -x[3]):
    if r > 1.2 and va > 0.3:
        print(f"{q:28s} A={va:7.2f} B={vb:7.2f} ratio={r:5.2f}")
print("\n-- A faster than B by >20% (wins) --")
for q, va, vb, r in sorted(rows, key=lambda x: x[3]):
    if r < 0.8 and vb > 0.3:
        print(f"{q:28s} A={va:7.2f} B={vb:7.2f} ratio={r:5.2f}")
