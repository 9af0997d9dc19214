#!/usr/bin/env python3
"""Run workloads over several seeds and summarize each end-to-end metric.

Usage (from the repo root):
    python3 perfbench/sweep.py                        # every workload, seeds 1..3
    python3 perfbench/sweep.py --workloads corpus_batch --seeds 1-10

Each run is one `perfbench/run.py` process. Its metric lines are echoed;
the summary gives, per workload and metric, the median over the runs and
the spread: the distance between the first and third quartile
(statistics.quantiles, n=4) as a share of the median, the figure a
metric's bound in BENCHMARK.json is held against.
"""
import argparse
import json
import statistics
import subprocess
import sys

import run


def seed_list(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--seeds", default="1-3", help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float,
                    default=json.loads((run.ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    args = ap.parse_args()
    seeds = seed_list(args.seeds)
    summary = []
    for w in args.workloads.split(","):
        values = {}
        for seed in seeds:
            p = subprocess.run([sys.executable, str(run.BENCH / "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(args.seconds)],
                               cwd=run.ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}")
                continue
            print("\n".join(l for l in lines[:-1] if not l.startswith("# meta")))
            result = json.loads(lines[-1])
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        for name, v in values.items():
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
            summary.append((w, name, len(v), med, (q[2] - q[0]) / med if med else float("nan")))
    print(f"\n{'workload':16s} {'metric':16s} {'runs':>4s} {'median':>12s} {'spread':>7s}")
    for w, name, n, med, spread in summary:
        print(f"{w:16s} {name:16s} {n:4d} {med:12.4f} {spread:7.3f}")


if __name__ == "__main__":
    main()
