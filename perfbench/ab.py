#!/usr/bin/env python3
"""Parent-vs-change comparer for the repo benchmark.

    python3 perfbench/ab.py --parent <checkout> --change <checkout> \\
        --workload <name> [--pairs 10] [--seed0 1000]

Runs `pairs` alternating pairs (pair i uses seed seed0+i; even pairs run
the parent first, odd pairs the change first) of perfbench/run.py in each
checkout, then judges every end-to-end metric by this rule:

  * gain: the change wins at least 9/10 of the pairs (ties count for
    neither side) AND the medians differ by more than the parent's own
    spread (q3 - q1 of its runs);
  * regression: the change's median is worse than the parent's by more
    than the metric's bound from BENCHMARK.json;
  * unresolved: the parent's spread is wider than the bound, unless every
    change run is better than every parent run.

Both checkouts must carry identical benchmark files. A comparison with no
completed pair, or a metric whose parent median is 0, is refused with a
message rather than reported: there is no base for a relative change.
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path


def bench_digest(checkout: Path) -> str:
    if not (checkout / "BENCHMARK.json").is_file():
        sys.exit(f"refused: {checkout} holds no BENCHMARK.json; pass the "
                 "root of a checkout")
    h = hashlib.sha256((checkout / "BENCHMARK.json").read_bytes())
    for p in sorted((checkout / "perfbench").rglob("*")):
        if p.is_file() and "__pycache__" not in p.parts:
            h.update(str(p.relative_to(checkout)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run(checkout: Path, workload: str, seed: int, seconds: int):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        print(f"  run failed in {checkout} (seed {seed}): "
              f"{r.stderr.strip().splitlines()[-1:]}", file=sys.stderr)
        return None
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"  incorrect output in {checkout} (seed {seed})",
              file=sys.stderr)
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, q3


def judge(name, better, bound, pairs):
    """Verdict for one metric over completed (parent, change) pairs."""
    par = [p for p, _ in pairs]
    chg = [c for _, c in pairs]
    pm, cm = statistics.median(par), statistics.median(chg)
    if pm == 0:
        return (f"{name}: refused — the parent median is 0, so a relative "
                "change has no base")
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    pq1, pq3 = quartiles(par)
    cq1, cq3 = quartiles(chg)
    iqr = pq3 - pq1
    delta = (cm - pm) / abs(pm)
    worse = -sign * delta
    if wins >= 0.9 * len(pairs) and abs(cm - pm) > iqr:
        verdict = "GAIN"
    elif bound is not None and worse > bound:
        verdict = "REGRESSION"
    elif bound is not None and iqr / abs(pm) > bound and not (
            min(sign * c for c in chg) > max(sign * p for p in par)):
        verdict = "unresolved (parent spread wider than the bound)"
    else:
        verdict = "no change beyond the bound" if bound is not None else \
            "no claim"
    return (f"{name}: parent {pm:.5g} [{pq1:.5g}, {pq3:.5g}]  change "
            f"{cm:.5g} [{cq1:.5g}, {cq3:.5g}]  delta {delta:+.2%}  "
            f"change wins {wins}/{len(pairs)}  -> {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    args = ap.parse_args()
    parent, change = args.parent.resolve(), args.change.resolve()
    if bench_digest(parent) != bench_digest(change):
        sys.exit("refused: the two checkouts carry different benchmark "
                 "files; measure both with identical benchmark code")
    spec = json.loads((parent / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"refused: unknown workload {args.workload}")
    pairs = {m["name"]: [] for m in spec["end_to_end"]}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = [(0, parent), (1, change)]
        if i % 2:
            order.reverse()
        got = [None, None]
        for side, checkout in order:
            got[side] = run(checkout, args.workload, seed, spec["run_seconds"])
        if None in got:
            continue
        for name in pairs:
            pairs[name].append((got[0][name], got[1][name]))
        print(f"pair {i + 1}/{args.pairs} (seed {seed}) done", flush=True)
    done = len(next(iter(pairs.values()), []))
    if done == 0:
        sys.exit("refused: no pair completed on both sides, nothing to "
                 "compare")
    print(f"\n{args.workload}: {done} completed pairs")
    for m in spec["end_to_end"]:
        print("  " + judge(m["name"], m["better"], m.get("bound"),
                           pairs[m["name"]]))


if __name__ == "__main__":
    main()
