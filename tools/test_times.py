#!/usr/bin/env python3
"""Summarise the test suite's time from sbt's JUnit XML reports.

Usage:
    python3 tools/test_times.py [N] [--reports DIR]

Reads every `TEST-*.xml` under DIR (default `target/test-reports`, where
`sbt test` / `sbt testOnly` write them) and prints the number of tests and
their summed time, then each spec's total (largest first), then the N
slowest tests (default 10). Times are the testcase `time` attributes, so
the sum leaves out per-spec setup outside any test (session start, fixture
writes in a constructor); the suite's wall time is longer.
"""
import argparse
import sys
import xml.etree.ElementTree as ET
from pathlib import Path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n", nargs="?", type=int, default=10,
                    help="how many of the slowest tests to list")
    ap.add_argument("--reports", default="target/test-reports",
                    help="directory holding the TEST-*.xml reports")
    args = ap.parse_args()

    files = sorted(Path(args.reports).glob("TEST-*.xml"))
    if not files:
        sys.exit(f"no TEST-*.xml under {args.reports}")
    tests = []  # (seconds, spec, test name)
    for f in files:
        for case in ET.parse(f).getroot().iter("testcase"):
            spec = case.get("classname", f.stem[len("TEST-"):])
            tests.append((float(case.get("time", 0)), spec, case.get("name", "")))

    per_spec = {}
    for secs, spec, _ in tests:
        n, total = per_spec.get(spec, (0, 0.0))
        per_spec[spec] = (n + 1, total + secs)

    total = sum(t[0] for t in tests)
    print(f"{len(tests)} tests, {total:.1f} s summed test time, "
          f"{len(per_spec)} specs")
    print("\nper spec:")
    for spec, (n, secs) in sorted(per_spec.items(), key=lambda kv: -kv[1][1]):
        print(f"  {secs:8.1f} s  {n:4d} tests  {spec}")
    print(f"\n{args.n} slowest tests:")
    for secs, spec, name in sorted(tests, reverse=True)[:args.n]:
        print(f"  {secs:8.1f} s  {spec}: {name}")


if __name__ == "__main__":
    main()
