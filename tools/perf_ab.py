#!/usr/bin/env python3
"""A/B two checkouts with the repo benchmark, in alternating pairs.

Usage:
    python3 tools/perf_ab.py --a <parent checkout> --b <change checkout> \
        --workload corpus_batch --pairs 10 [--seed 51] [--seconds 18]

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds T
--trace 0` once in each checkout, with the same seed; the side that runs
first flips from pair to pair, so a host that slows down or speeds up over
the series does not favour one side. Seeds count up from --seed, one per
pair. The script only runs perfbench from outside and reads its output:
the last stdout line (the JSON result), the `# op_median_ms` line and the
`# meta` line.

Each pair's line shows, per side, wall_s next to that run's session_s and
canary_ms before/after from `# meta`: a pair run in a slow host period
shows there, and perfbench/README.md asks for such a comparison to be
re-run. It then prints, per end-to-end metric, each side's median and quartiles
(IQR = q3 - q1), the relative change of the medians, how many pairs B won,
whether the median gap exceeds A's IQR and a no-regression verdict; then
each query's op_median_ms median per side. Runs that fail or report
correct=false are listed and left out of the tables. `--json` also writes
every pair's raw numbers to a file.

Direction and bound of each metric come from the `end_to_end` list of the
B checkout's BENCHMARK.json: a pair is a B win when B is better in the
declared direction, and the verdict reads `ok` when B's median is no worse
than A's by more than the bound (relative to A's median), `WORSE` when it
is, and `unresolved` when A's own IQR / median exceeds the bound (the runs
spread too widely to tell). A metric BENCHMARK.json does not declare counts
as lower-is-better and gets no verdict.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def run_once(checkout, workload, seed, seconds, timeout):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    res = {"seed": seed, "elapsed_s": round(time.time() - t0, 1), "exit": p.returncode}
    try:
        res.update(json.loads(lines[-1]))
    except (IndexError, json.JSONDecodeError):
        res["error"] = (p.stderr.strip().splitlines() or ["no output"])[-1]
        return res
    for ln in lines:
        if ln.startswith("# op_median_ms "):
            res["op_median_ms"] = json.loads(ln[len("# op_median_ms "):])
        elif ln.startswith("# meta "):
            res["meta"] = json.loads(ln[len("# meta "):])
    return res


def run_line(r):
    """wall_s of one run, with the host diagnostics of its `# meta` line."""
    if not ok(r):
        return "FAILED"
    meta = r.get("meta", {})
    canary = meta.get("canary_ms", {})
    nan = float("nan")
    return (f"wall_s={r['metrics']['wall_s']['value']:.2f}"
            f" [session_s={meta.get('session_s', nan):.2f}"
            f" canary_ms={canary.get('before', nan):.1f}/{canary.get('after', nan):.1f}]")


def ok(r):
    return r.get("exit") == 0 and r.get("correct") is True and r.get("failed") == 0


def declared_metrics(checkout):
    """name -> (better, bound) of each end-to-end metric in BENCHMARK.json."""
    spec = json.loads((Path(checkout) / "BENCHMARK.json").read_text())
    return {m["name"]: (m["better"], m["bound"]) for m in spec.get("end_to_end", [])}


def verdict(ma, a1, a3, mb, better, bound):
    if bound is None:
        return "-"
    if (a3 - a1) / ma > bound:
        return "unresolved"
    worse_by = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
    return "WORSE" if worse_by > bound else "ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--a", required=True, help="baseline checkout (e.g. the parent commit)")
    ap.add_argument("--b", required=True, help="checkout with the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=51, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--timeout", type=float, default=600, help="per-run limit, seconds")
    ap.add_argument("--json", help="write every pair's raw results here")
    args = ap.parse_args()
    sides = {"A": str(Path(args.a).resolve()), "B": str(Path(args.b).resolve())}

    pairs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["A", "B"] if i % 2 == 0 else ["B", "A"]
        pair = {"seed": seed, "order": "".join(order)}
        for side in order:
            pair[side] = run_once(sides[side], args.workload, seed, args.seconds, args.timeout)
        print(f"pair {i + 1}/{args.pairs} seed={seed} order={pair['order']} "
              + " ".join(f"{s}:{run_line(pair[s])}" for s in "AB"),
              flush=True)
        pairs.append(pair)
    if args.json:
        Path(args.json).write_text(json.dumps(pairs, indent=1))

    for p in pairs:
        for s in "AB":
            if not ok(p[s]):
                print(f"# run failed or incorrect: side {s} seed {p['seed']}: "
                      f"{p[s].get('error', '')}")
    good = [p for p in pairs if ok(p["A"]) and ok(p["B"])]
    if not good:
        print("no complete pair")
        return 1
    names = list(good[0]["A"]["metrics"])
    declared = declared_metrics(sides["B"])
    print(f"\n{args.workload}: {len(good)} complete pairs (A={sides['A']}, B={sides['B']})")
    print(f"{'metric':18s} {'A median':>10s} {'A q1-q3':>19s} {'B median':>10s} "
          f"{'B q1-q3':>19s} {'change':>8s} {'B wins':>7s} {'gap>IQR(A)':>10s} {'verdict':>10s}")
    for m in names:
        a = [p["A"]["metrics"][m]["value"] for p in good]
        b = [p["B"]["metrics"][m]["value"] for p in good]
        ma, mb = statistics.median(a), statistics.median(b)
        (a1, a3), (b1, b3) = quartiles(a), quartiles(b)
        better, bound = declared.get(m, ("lower", None))
        wins = sum(1 for x, y in zip(a, b) if (y < x if better == "lower" else y > x))
        print(f"{m:18s} {ma:10.2f} {a1:9.2f}-{a3:<9.2f} {mb:10.2f} {b1:9.2f}-{b3:<9.2f} "
              f"{(mb - ma) / ma * 100:+7.1f}% {wins:4d}/{len(good):<2d} "
              f"{'yes' if abs(mb - ma) > (a3 - a1) else 'no':>10s} "
              f"{verdict(ma, a1, a3, mb, better, bound):>10s}")
    queries = sorted(good[0]["A"].get("op_median_ms", {}))
    if queries:
        print(f"\n{'op_median_ms':24s} {'A median':>10s} {'B median':>10s} {'change':>8s}")
        for q in queries:
            a = [p["A"]["op_median_ms"][q] for p in good if q in p["A"].get("op_median_ms", {})]
            b = [p["B"]["op_median_ms"][q] for p in good if q in p["B"].get("op_median_ms", {})]
            if a and b:
                ma, mb = statistics.median(a), statistics.median(b)
                print(f"{q:24s} {ma:10.1f} {mb:10.1f} {(mb - ma) / ma * 100:+7.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
