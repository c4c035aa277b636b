#!/usr/bin/env python3
"""Runs the benchmark over several seeds and reports each metric's spread.

Usage (from the root of a checkout):
  python3 perfbench/tools/spread.py --workloads batch-floor,stream-frames \
      --seeds 1-10 [--trace 0] [--out spread.json]

For every metric it prints the median, the quartiles and the distance
between the first and third quartile as a share of the median, the
spread a metric's bound in BENCHMARK.json must cover.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for w in args.workloads.split(","):
        runs = []
        for s in seeds(args.seeds):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            print(f"{w} seed {s}: exit {p.returncode} correct {res['correct']} "
                  f"failed {res['failed']}/{res['attempted']}", flush=True)
            runs.append(res)
        summary[w] = {"runs": runs, "metrics": {}}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            share = (q3 - q1) / med if med else float("nan")
            summary[w]["metrics"][name] = {"median": med, "q1": q1, "q3": q3, "iqr_share": share}
            b = bounds.get(name)
            flag = "" if b is None else ("  ok" if share < b / 3 else "  WIDE")
            print(f"  {name:28s} median {med:14.4f}  q1 {q1:14.4f}  q3 {q3:14.4f}  "
                  f"iqr/median {share:7.4f}{'' if b is None else f'  bound {b}'}{flag}", flush=True)
    if args.out:
        json.dump(summary, open(args.out, "w"), indent=1)


if __name__ == "__main__":
    main()
