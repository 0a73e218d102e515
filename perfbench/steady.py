#!/usr/bin/env python3
"""Steadiness check: run each workload N times with different seeds and
report, per metric, the median, the quartiles and the spread (IQR as a
share of the median), next to the metric's bound from BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--seed0 1] [--trace 0]
                                [--workloads a,b] [--out file.json] [--show]

`--runs 1 --show --workloads lifecycle_wide,ann_serve,dedup_ingest` prints
every end-to-end figure of every workload by name with its unit, and every
check result, from one command.

A spread under a third of the bound is steady; above the bound the
metric cannot resolve a regression of that size. setup_s is reported but
its spread is not held to its bound. Runs are sequential; each one's
wall time is reported too, since it sets the benchmark's total budget.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    if r.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{r.stderr[-2000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), wall, "\n".join(lines[:-1])


def spread(values):
    """(median, q1, q3, IQR / median) as statistics.quantiles gives them."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    ap.add_argument("--show", action="store_true",
                    help="print each run's full report (every metric under "
                         "the workload's own names, and the checks)")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = ([w for w in args.workloads.split(",") if w] or
             [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for w in names:
        per_metric, walls, bad = {}, [], 0
        for i in range(args.runs):
            res, wall, report = run_once(w, args.seed0 + i,
                                         spec["run_seconds"], args.trace)
            if args.show:
                print(report)
            walls.append(wall)
            bad += not res["correct"]
            for k, v in res["metrics"].items():
                per_metric.setdefault(k, []).append(v["value"])
            print(f"[{w}] seed {args.seed0 + i}: {wall:.1f}s wall, " +
                  ("" if res["correct"] else "INCORRECT, ") +
                  ", ".join(f"{k}={v['value']:.4g}"
                            for k, v in list(res["metrics"].items())[:6]),
                  flush=True)
        print(f"\n{w}: {args.runs} runs, wall median "
              f"{statistics.median(walls):.1f}s, total {sum(walls):.0f}s, "
              f"{bad} incorrect")
        rows = {}
        for k, vals in per_metric.items():
            med, q1, q3, sp = spread(vals)
            b = bounds.get(k)
            flag = ""
            if b is not None and k != "setup_s":
                flag = ("steady" if sp < b / 3 else
                        "within bound" if sp <= b else "TOO WIDE")
            rows[k] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                       "bound": b, "values": vals}
            if args.trace == 0 or b is not None:
                print(f"  {k:24s} median {med:12.5g}  q1 {q1:12.5g}  "
                      f"q3 {q3:12.5g}  spread {sp:7.2%}  "
                      f"bound {'-' if b is None else f'{b:.0%}'}  {flag}")
        summary[w] = {"walls": walls, "incorrect": bad, "metrics": rows}
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
