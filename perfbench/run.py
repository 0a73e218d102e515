#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark harness from source when needed
(perfbench/build.py), runs the workload in a fresh JVM on local[N]
(N = min(4, cores)) with one client thread issuing every call, checks the
outputs, and prints a human-readable report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list; with --trace 1 its per_layer list.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
# runnable by name, but outside BENCHMARK.json's workloads (see README.md)
EXTRA = {"dedup_ingest"}


def tail(xs):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile) or None below eleven samples."""
    if len(xs) < 11:
        return None
    s = sorted(xs)
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def launch(args, classes, work):
    jars = build.spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cores = min(4, len(os.sched_getaffinity(0)))
    # no hsperfdata files: the run writes nothing outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--cores", str(cores),
            "--t0-ms", str(int(time.time() * 1000))]
    log = work / "jvm.log"
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"workload JVM exceeded {JVM_TIMEOUT_S}s")
        finally:
            # also on SIGTERM (raised as SystemExit below): no JVM outlives us
            if p.poll() is None:
                p.kill()
                p.communicate()
    lines = [l for l in out.splitlines() if l.startswith("BENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"workload JVM exited {p.returncode} without a "
                           "result; log tail:\n" +
                           "\n".join(log.read_text().splitlines()[-30:]))
    return json.loads(lines[-1][len("BENCH_RESULT "):])


def e2e_metrics(r):
    v = r["values"]
    setup = r["session_s"] + v["gen_s"] + v["warmup_s"]
    return {
        "setup_s": setup,
        "op_p50_s": statistics.median(v["op_samples"]),
        "rate_per_s": v["items"] / r["window_s"],
        "quality": v["quality"],
        "peak_rss_mb": r["peak_rss_mb"],
    }


def report(r, m):
    """The human-readable part: every end-to-end metric under the names
    the workloads were specified with, then the checks."""
    v = r["values"]
    w = r["workload"]
    print(f"workload {w} seed {r['seed']} trace {int(r['trace'])} "
          f"local[{r['cores']}]")
    print(f"  input: {v['shape']}")
    print(f"  loadavg start {r['loadavg_start']} | end {r['loadavg_end']}")
    rows = [("setup_s", m["setup_s"],
             f"s (session {r['session_s']:.2f} + inputs {v['gen_s']:.2f} + "
             f"warm-up {v['warmup_s']:.2f})"),
            ("peak_rss_mb", m["peak_rss_mb"], "MB"),
            ("failed_frac", r["failed"] / max(1, r["attempted"]), "ratio")]
    ops = v["op_samples"]

    def tail_row(name, xs, unit):
        t = tail(xs)
        if t is None:
            rows.append((name, None, f"{unit} (n={len(xs)} < 11)"))
        else:
            rows.append((name, t[0], f"{unit} (p{t[1]:.0f} of n={len(xs)})"))

    if w == "lifecycle_wide":
        rows.append(("lifecycle_s", m["op_p50_s"], f"s (median of {len(ops)} passes)"))
        rows.append(("roc_auc", m["quality"], "ratio"))
    elif w == "dedup_ingest":
        rows.append(("ingest_docs_per_s", m["rate_per_s"], "docs/s"))
        rows.append(("ingest_batch_p50_s", m["op_p50_s"], f"s (n={len(ops)})"))
        tail_row("ingest_batch_tail_s", ops, "s")
        rows.append(("near_dup_flagged_share", m["quality"], "ratio"))
    elif w == "ann_serve":
        rows.append(("ann_query_p50_s", m["op_p50_s"], f"s (n={len(ops)})"))
        tail_row("ann_query_tail_s", ops, "s")
        ing = v["ingest_samples"]
        rows.append(("ann_ingest_batch_p50_s", statistics.median(ing),
                     f"s (n={len(ing)})"))
        rows.append(("ann_recall_at_10", m["quality"], "ratio"))
        rows.append(("ann_ingest_vec_per_s", m["rate_per_s"], "vec/s"))
    for name, val, unit in rows:
        shown = "n/a" if val is None else f"{val:.6g}"
        print(f"  {name:28s} {shown:>12s} {unit}")
    print(f"  ops attempted {r['attempted']}, failed {r['failed']}")
    for c in r["checks"]:
        state = "ok" if c["failed"] == 0 else (
            "FAIL (known defect)" if c["known_defect"] else "FAIL")
        print(f"  check {c['name']:28s} {state}: {c['passed']} passed, "
              f"{c['failed']} failed")
        if c["failed"]:
            print(f"        {c['detail']}")
    for e in r["errors"]:
        print(f"  error: {e}")


def layer_table(layers):
    cols = ["wall_s", "self_s", "jobs", "tasks", "task_s", "residue_s",
            "shuffle_bytes", "spill_bytes", "rows_read"]

    def in_table(k):
        return (k.count(".") == 2 and k.rsplit(".", 1)[1] in cols and
                not k.startswith(("index.", "trace.")))

    names = sorted({k.rsplit(".", 1)[0] for k in layers if in_table(k)})
    print("  " + f"{'span':24s}" + "".join(f"{c:>14s}" for c in cols))
    for n in names:
        cells = [layers.get(f"{n}.{c}") for c in cols]
        print("  " + f"{n:24s}" + "".join(
            f"{'-':>14s}" if x is None else f"{x:14.4g}" for x in cells))
    for k in sorted(layers):
        if not in_table(k):
            x = layers[k]
            print(f"  {k:40s} {'n/a' if x is None else format(x, '.6g')}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]} | EXTRA:
        sys.exit(f"unknown workload {args.workload}")
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    work = (ROOT / ".bench_build" / "work" /
            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        r = launch(args, classes, work)
        if args.trace:
            traces = ROOT / ".bench_build" / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(work / "spans.jsonl", traces /
                        f"{args.workload}-s{args.seed}.jsonl")
    except RuntimeError as e:
        sys.exit(f"run failed: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m = e2e_metrics(r)
    report(r, m)
    if args.trace:
        layers = r["layers"]
        print("  per-layer (medians over traced calls):")
        layer_table(layers)
        # 0 for a span this workload never runs; None (no traced call
        # survived) only happens alongside failed ops, so correct is false
        metrics = {x["name"]: {"value": layers.get(x["name"]) or 0.0,
                               "unit": x["unit"]} for x in spec["per_layer"]}
    else:
        metrics = {x["name"]: {"value": m[x["name"]], "unit": x["unit"]}
                   for x in spec["end_to_end"]}
    threw = bool(r["errors"])
    unexpected = any(c["failed"] and not c["known_defect"] for c in r["checks"])
    print(json.dumps({"correct": not threw and not unexpected,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
