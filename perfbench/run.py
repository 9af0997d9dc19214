#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

Usage (from the repo root):
    python3 perfbench/run.py --workload catalog_read --seed 1 --seconds 10 --trace 0

Builds the benchmark JVM (perfbench/build.sbt compiles the repo's main sources
with the harness) when the sources changed, makes the seeded inputs, launches
`perfbench.Main`, and prints the metrics. `--trace 0` prints the end-to-end
metrics, `--trace 1` the per-layer ones (see perfbench/README.md). Everything
a run writes lives under one scratch root in the checkout that is removed on
exit; build output lives in .bench_build/.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
SCRATCH_PARENT = ROOT / ".bench_scratch"
DATA = BENCH / "data" / "sf0.01"
HEAP = "2g"
RUN_BUDGET_S = 170  # every run must end within 180 s
_jvm = None  # the running benchmark JVM, stopped on every exit path

# Fixed query subsets (see README.md, "Workloads"), one caller, closed loop.
# pass_s: nominal steady pass time on 4 cores; --seconds sets the number of
# measured passes as round(seconds / pass_s), so the op count is fixed by
# --seconds and does not depend on how fast the program is.
WORKLOADS = {
    "catalog_read": {
        "kind": "query", "pass_s": 2.6,
        "queries": [
            "q_a1_top_parts", "q_revenue_topk", "q_f2_ilike_search",
            "q_x_scalars", "q_pii_scrub",
            "q_topk_per_key", "q_median",
            "q_sessionize", "q_asof_join",
        ],
    },
    "corpus_batch": {
        "kind": "query", "pass_s": 7.4,
        "queries": [
            "q_dedup_jaccard", "q_corpus_clean",
            "q_decontaminate",
            "q_pack_sequences",
            "q_ann_ivf", "q_ivf_sweep", "q_binary_ivf_sweep",
            # one query per catalog family, so every family's layer split
            # is measured on a listed workload
            "q_a1_top_parts", "q_x_scalars", "q_median", "q_sessionize",
        ],
    },
    # batch_s: nominal steady micro-batch time on 4 cores; one staged file
    # (= micro-batch) per round(seconds / batch_s)
    "curation_stream": {"kind": "stream", "batch_s": 2.6, "warm_batches": 2},
}

# Printed on every run. BENCHMARK.json's end_to_end list (the gated metrics,
# and exactly the result line's metrics) leaves out the percentiles: a run
# has far fewer than the 100 samples that would put ten beyond p90, and over
# a few heterogeneous queries p50 is one query's latency (README.md,
# "Latency"). latency_gmean_ms is gated instead.
PRINTED = {"setup_s": "s", "wall_s": "s", "latency_gmean_ms": "ms", "latency_p50_ms": "ms",
           "latency_p90_ms": "ms", "peak_rss_mb": "MB"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("no Spark install found (set SPARK_HOME)")
    return home


def source_files():
    graft = ROOT / "src" / "main" / "scala"
    if not (graft / "graft").is_dir():
        raise BenchError(f"no graft sources at {graft}: run from a full checkout")
    files = sorted(graft.rglob("*.scala")) + sorted((BENCH / "src" / "main").rglob("*.scala"))
    return files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    repos = Path.home() / ".sbt" / "repositories"
    for flag in ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]:
        if flag not in opts:
            opts += " " + flag
    if repos.is_file() and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.repository.config={repos}"
    # keep sbt's JVM from writing outside the checkout (temp files, perf data)
    tmp = BUILD.parent / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compile the harness + graft sources unless this exact source set is built."""
    stamp = BUILD / "source.sha256"
    digest = source_hash()
    classes = BUILD / "scala-2.13" / "classes"
    if stamp.is_file() and stamp.read_text() == digest and classes.is_dir():
        return classes, digest
    if not shutil.which("sbt"):
        raise BenchError("sbt not found on PATH")
    log("building the benchmark JVM (sbt compile)")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not classes.is_dir():
        raise BenchError(f"sbt compile failed (exit {r.returncode})")
    stamp.write_text(digest)
    return classes, digest


def canary_ms():
    """Fixed single-threaded CPU loop: a contention diagnostic, not a metric."""
    t0 = time.perf_counter()
    h = hashlib.sha256()
    block = b"x" * 4096
    for _ in range(12000):
        h.update(block)
    acc = 0
    for i in range(300000):
        acc = (acc * 31 + i) % 1000003
    return (time.perf_counter() - t0) * 1e3


def query_plan(spec, rng, seconds):
    names = list(spec["queries"])
    warm = names[:]
    rng.shuffle(warm)
    n_passes = max(1, round(seconds / spec["pass_s"]))
    passes = []
    for _ in range(n_passes):
        order = names[:]
        rng.shuffle(order)
        passes.append(order)
    digests = json.loads((BENCH / "digests.json").read_text())["queries"]
    return {"queries": names, "warmup": warm, "passes": passes,
            "expected": {n: digests[n] for n in names if n in digests}}


def words(text):
    return [w for w in text.split(" ") if w]


def word_grams(text, n=4):
    w = words(text)
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def reaches_dedup(text, eval_grams):
    """Whether the sink keeps a document up to its near-dup stage: it passes
    the quality gates and shares no word 4-gram with the held-out slice
    (TextAnalysis.qualityGates / Dedup.contaminationHits at the
    CorpusPipeline.Config defaults)."""
    w = words(text)
    n = len(w)
    return (30 <= n <= 120 and 3 <= sum(map(len, w)) / n <= 10 and len(set(w)) / n >= 0.3
            and any(x in ("a", "the") for x in w) and not word_grams(text) & eval_grams)


def near_dup_pairs(rows, k=9, threshold=0.8):
    """Document pairs whose char-9-shingle Jaccard is >= 0.8: the pairs the
    sink's near-dup stage joins (CorpusPipeline.Config defaults)."""
    sh = {d: {t[i:i + k] for i in range(max(1, len(t) - k + 1))} for d, t in rows}
    ids = sorted(sh, key=lambda d: (len(sh[d]), d))
    pairs = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if len(sh[a]) < threshold * len(sh[b]):
                break  # sorted by size: no later b can reach the threshold
            if len(sh[a] & sh[b]) >= threshold * len(sh[a] | sh[b]):
                pairs.append((min(a, b), max(a, b)))
    return pairs


def stage_stream(spec, rng, seconds, scratch):
    """Stage the non-held-out documents, split by seed, as one parquet file
    per micro-batch (47 docs each); the warm-up streams the first files
    again into a throwaway warehouse.

    The split is cost-balanced: every file holds exactly one near-dup pair
    that survives to the sink's dedup stage, so every batch takes the same
    in-batch path (connected components over its one pair), and the other
    45 docs have no near-dup anywhere in the stream. The seed picks which
    pairs and fillers, and their order; it does not change the per-batch
    work."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    docs = pq.read_table(DATA / "documents.parquet", columns=["doc_id", "text", "source"])
    all_rows = list(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist(),
                        docs["source"].to_pylist()))
    eval_grams = set().union(*(word_grams(t) for _, t, s in all_rows if s == "src0"))
    rows = [(d, t) for d, t, s in all_rows if s != "src0"]
    text = dict(rows)
    pairs = near_dup_pairs(rows)
    in_pairs = [d for p in pairs for d in p]
    paired = set(in_pairs)
    # pairs that are a whole near-dup cluster and reach the dedup stage
    usable = [p for p in pairs if in_pairs.count(p[0]) == 1 and in_pairs.count(p[1]) == 1
              and all(reaches_dedup(text[d], eval_grams) for d in p)]
    fillers = [d for d, _ in rows if d not in paired]
    n_files = max(4, round(seconds / spec["batch_s"]))
    per_file = 47
    if n_files > len(usable) or n_files * (per_file - 2) > len(fillers):
        raise BenchError(f"{n_files} balanced batches need more documents than the data has")
    rng.shuffle(usable)
    rng.shuffle(fillers)
    in_dir, warm_dir = scratch / "stream_in", scratch / "stream_warm_in"
    in_dir.mkdir()
    warm_dir.mkdir()
    files = []
    base = time.time() - 3600
    for i in range(n_files):
        chunk = list(usable[i]) + fillers[i * (per_file - 2):(i + 1) * (per_file - 2)]
        rng.shuffle(chunk)
        name = f"batch_{i:05d}.parquet"
        table = pa.table({"doc_id": pa.array(chunk, pa.int64()),
                          "text": pa.array([text[d] for d in chunk], pa.string())})
        pq.write_table(table, in_dir / name)
        # the file source orders files by modification time: file i is batch i
        os.utime(in_dir / name, (base + i, base + i))
        if i < spec["warm_batches"]:
            shutil.copyfile(in_dir / name, warm_dir / name)
            os.utime(warm_dir / name, (base + i, base + i))
        files.append({"name": name, "doc_ids": chunk})
    return {"stream": {"in_dir": str(in_dir), "warm_dir": str(warm_dir), "files": files}}


def launch(plan, scratch, classes, deadline):
    """Run perfbench.Main on `plan`; returns its result dict."""
    plan_path = scratch / "plan.json"
    plan["out"] = str(scratch / "result.json")
    plan["spans"] = str(scratch / "spans.jsonl")
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    (scratch / "tmp").mkdir()
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={scratch / 'spark-warehouse'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{Path(spark_home()) / 'jars' / '*'}",
            "perfbench.Main", str(plan_path)]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env.update(SPARK_GRAFT_CPUS=str(plan["meta"]["nproc"]),
               GRAFT_ANN_ARTIFACT_DIR=str(scratch / "memo"),
               SPARK_GRAFT_LOCAL_DIR=str(scratch / "spark-local"))
    plan["launch_epoch_ns"] = time.time_ns()
    plan_path.write_text(json.dumps(plan))
    global _jvm
    _jvm = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = _jvm.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise BenchError("benchmark JVM exceeded the run budget")
    finally:
        stop_jvm()
    if rc != 0 or not Path(plan["out"]).is_file():
        raise BenchError(f"benchmark JVM failed (exit {rc})")
    return json.loads(Path(plan["out"]).read_text())


def stop_jvm():
    """Stop the benchmark JVM (its whole process group) and wait for it."""
    global _jvm
    proc, _jvm = _jvm, None
    if proc is not None and proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGTERM)
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        except ProcessLookupError:
            proc.wait()


def metric_contract():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def report(args, res, meta, end_to_end, per_layer):
    def out(line):
        print(line, flush=True)
    attempted, failed = res["attempted"], res["failed"]
    out(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    out("# meta " + json.dumps(meta, sort_keys=True))
    n = res["samples"]
    labels = {"latency_gmean_ms": f"(n={n})",
              "latency_p50_ms": f"(n={n}; printed, not gated)",
              "latency_p90_ms": f"(n={n}, {n // 10} beyond; printed, not gated)"}
    for name, unit in PRINTED.items():
        out(f"# {name:16s} {res[name]:12.4f} {unit:6s} {labels.get(name, '')}")
    out(f"# {'failed_frac':16s} {failed / attempted:12.4f} ratio  ({failed}/{attempted} ops)")
    for f in res["failures"] or []:
        out(f"# FAILED {f['op']}: {f['error']}")
    for name, err in dict(res.get("check_failures") or {}).items():
        out(f"# CHECK FAILED {name}: {err}")
    out("# op_median_ms " + json.dumps({k: round(v, 1) for k, v in res["op_median_ms"].items()}))
    if res.get("first_call_ms"):
        out("# first_call_ms " + json.dumps({k: round(v, 1) for k, v in res["first_call_ms"].items()}))
    if res.get("stream"):
        out("# stream " + json.dumps(dict(res["stream"]), sort_keys=True))
    if args.trace:
        layers = dict(res["layers"])
        missing = [n for n in per_layer if n not in layers]
        if missing:
            raise BenchError(f"per-layer metrics missing from the trace: {missing}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in per_layer.items()}
    else:
        metrics = {n: {"value": res[n], "unit": u} for n, u in end_to_end.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spans-out", help="also copy the traced run's spans (JSON lines) here")
    args = ap.parse_args()

    end_to_end, per_layer = metric_contract()
    classes, digest = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    spec = WORKLOADS[args.workload]
    SCRATCH_PARENT.mkdir(exist_ok=True)
    scratch = SCRATCH_PARENT / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir()
    try:
        rng = random.Random(args.seed)
        nproc = len(os.sched_getaffinity(0))
        meta = {"workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
                "nproc": nproc, "spark_graft_cpus": nproc, "heap": HEAP,
                "data": str(DATA.relative_to(ROOT)), "source_sha256": digest,
                "git_commit": git_commit()}
        plan = {"workload": args.workload, "kind": spec["kind"], "trace": bool(args.trace),
                "data_dir": str(DATA), "scratch": str(scratch), "meta": meta,
                "timeout_s": RUN_BUDGET_S}
        if spec["kind"] == "query":
            plan.update(query_plan(spec, rng, args.seconds))
        else:
            plan.update(stage_stream(spec, rng, args.seconds, scratch))
        canary_before = canary_ms()
        res = launch(plan, scratch, classes, deadline)
        meta["canary_ms"] = {"before": round(canary_before, 3), "after": round(canary_ms(), 3)}
        meta.update(versions=dict(res["versions"]), max_heap_mb=res["max_heap_mb"],
                    spark_local_dir=res["spark_local_dir"], session_s=res["session_s"])
        if args.trace and args.spans_out:
            shutil.copyfile(scratch / "spans.jsonl", args.spans_out)
        report(args, res, meta, end_to_end, per_layer)
    finally:
        stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            SCRATCH_PARENT.rmdir()
        except OSError:
            pass


def git_commit():
    if not (ROOT / ".git").exists():
        return "unknown (not a git checkout)"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown (not a git checkout)"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown (git unavailable)"


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
