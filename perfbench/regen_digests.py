#!/usr/bin/env python3
"""Regenerate perfbench/digests.json: the oracle-confirmed result digests.

Usage (from the repo root):
    python3 perfbench/regen_digests.py

Runs every query of the benchmark's query workloads once on the committed
data (perfbench/data/sf0.01), writes each result as parquet with its oracle
SQL, and checks them with the repo's DuckDB oracle, tools/oracle_check.py.
A query the oracle confirms is committed with its digest; one it rejects is
committed with the oracle's reason and counts as failed in every run.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

import run

ORACLE = run.ROOT / "tools" / "oracle_check.py"


def main():
    classes, _ = run.build()
    names = sorted({q for w in run.WORKLOADS.values() for q in w.get("queries", [])})
    run.SCRATCH_PARENT.mkdir(exist_ok=True)
    scratch = run.SCRATCH_PARENT / f"digests-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir()
    try:
        dump = scratch / "dump"
        plan = {"kind": "dump", "queries": names, "data_dir": str(run.DATA),
                "dump_dir": str(dump), "scratch": str(scratch),
                "meta": {"nproc": len(os.sched_getaffinity(0))}}
        res = run.launch(plan, scratch, classes, time.monotonic() + 1800)
        digests = dict(res["digests"])
        oracle = subprocess.run([sys.executable, str(ORACLE), str(run.DATA), str(dump)],
                                capture_output=True, text=True, timeout=1800)
        verdict = {}
        for line in oracle.stdout.splitlines():
            m = re.match(r"(OK|FAIL)\s+(\S+?):?(?:\s+(.*))?$", line)
            if m and m.group(2) in digests:
                verdict[m.group(2)] = (m.group(1), m.group(3) or "")
        out = {}
        for n in names:
            status, detail = verdict.get(n, ("FAIL", "not checked by the oracle"))
            if status == "OK" and not digests[n].startswith("error:"):
                out[n] = {"digest": digests[n]}
            else:
                out[n] = {"mismatch": detail or digests[n]}
            print(f"{status:4s} {n} {detail}")
        doc = {"scale": run.DATA.name,
               "regenerate": "python3 perfbench/regen_digests.py",
               "queries": out}
        (run.BENCH / "digests.json").write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")
        bad = [n for n, v in out.items() if "mismatch" in v]
        print(f"== {len(out) - len(bad)} confirmed, {len(bad)} disagree with the oracle: {bad}")
    finally:
        run.stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            run.SCRATCH_PARENT.rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    main()
