#!/usr/bin/env python3
"""Benchmark of the query registry and engine layers on two workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload {olap,pipeline} --seed N \
        --seconds S --trace {0,1}

One run:

1. builds the program and the measuring JVM code (perfbench/src) with
   perfbench/build.py into `.bench_build/classes-<source hash>`; an
   unchanged tree reuses it;
2. generates the seeded inputs (perfbench/gen.py), cached per
   (seed, sizes) under `.bench_build/data`;
3. starts one JVM on `local[<cores>]` with a fresh run directory that
   holds the Spark warehouse (the fit-once artifact store),
   `java.io.tmpdir` (the program's scratch tables) and Spark's local
   dirs, so the first pass is cold; the directory is deleted afterwards;
4. checks the outputs: every oracle key's dump against DuckDB with
   tools/local_verify.py, every other op by a fingerprint that must
   repeat on every pass;
5. prints a summary and, as its last line, one JSON object with
   `correct`, `attempted`, `failed` and `metrics`.

Passes: `cold_pass_s` is the first pass over the mix on the empty
warehouse and scratch dir (artifacts are built there); `pass_s`,
`op_p50_s` and `op_p90_s` come from the steady passes that follow it,
which find every artifact already built. `pass_s` sums each op's fastest
steady latency; `op_p50_s` and `op_p90_s` pool every steady latency.

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` the per-layer ones, computed from spans that the
measuring JVM records around each layer call (written to
`.bench_build/traces/<workload>-<seed>.jsonl`). Exit status is 0 only
when every op ran and every output checked out.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
from build import BUILD, build, fail, spark_jars  # noqa: E402

# input sizes per workload: (star-schema/events scale, corpus multiple)
SIZES = {"olap": (0.01, 0.1), "pipeline": (0.01, 0.25)}
DEADLINE_S = 160
# fixed heap geometry: the resident high-water mark then follows what
# the program retains, not when the collector chose to grow the heap
JVM_HEAP, JVM_YOUNG = "3g", "512m"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, classes, jars, data, run, n_cores, spans, deadline):
    os.makedirs(os.path.join(run, "tmp"))
    cmd = (["java"] + [x for p in OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Xmn{JVM_YOUNG}",
              f"-Djava.io.tmpdir={run}/tmp",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--run", run, "--cores", str(n_cores),
              "--out", os.path.join(run, "result.json"), "--spans", spans])
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    with open(os.path.join(run, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None, "timed out"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        tail = open(os.path.join(run, "jvm.log")).read()[-3000:]
        return None, f"measuring JVM exited {code}:\n{tail}"
    return json.load(open(os.path.join(run, "result.json"))), ""


def oracle_check(data, gate, keys, deadline):
    """tools/local_verify.py over the dumped outputs; returns failed keys."""
    if not keys:
        return set(), ""
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "local_verify.py"),
         data, gate] + sorted(keys), capture_output=True, text=True,
        cwd=os.path.dirname(gate), timeout=max(1.0, deadline - time.time()))
    passed = set(re.findall(r"^PASS (\S+)", p.stdout, re.M))
    return set(keys) - passed, p.stdout + p.stderr


def end_to_end(res):
    """`pass_s` is the steady pass as the sum of each op's fastest steady
    latency: CPU contention from outside only ever adds time, so the best
    of the steady passes is the least disturbed reading of each op."""
    cold = res["passes"][0]
    steady = res["passes"][1:]
    samples = [o["s"] for p in steady for o in p["ops"]]
    per_op = {}
    for p in steady:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(o["s"])
    m = {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "pass_s": (sum(min(v) for v in per_op.values()), "s"),
        "op_p50_s": (statistics.median(samples), "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024.0, "MB"),
    }
    return m, samples


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still stops (and waits for) its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jars = spark_jars()
    classes = build(jars)
    # the first run in a checkout also compiles; the deadline covers the
    # measuring JVM and the output check only
    deadline = time.time() + DEADLINE_S
    scale, corpus = SIZES[args.workload]
    data = gen.generate(os.path.join(
        BUILD, "data", f"sf{scale}-c{corpus}-s{args.seed}"),
        args.seed, scale, corpus)

    run = os.path.join(BUILD, "runs",
                       f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{args.workload}-{args.seed}.jsonl")
    n_cores = cores()
    try:
        res, err = run_jvm(args, classes, jars, data, run, n_cores, spans,
                           deadline)
        if res is None:
            fail(err, 3)
        bad_oracle, verify_log = oracle_check(
            data, os.path.join(run, "gate"),
            [k for k in res["oracle_keys"] if k not in res["gate_errors"]],
            deadline)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    wrong = bad_oracle | set(res["gate_errors"]) | \
        set(res["fingerprint_mismatch"])
    runs = [o for p in res["passes"] for o in p["ops"]]
    attempted = len(runs)
    failed = sum(1 for o in runs if not o["ok"] or o["name"] in wrong)
    for o in runs:
        if not o["ok"]:
            print(f"op {o['name']} failed on a pass: {o['err']}")
    for k in sorted(wrong):
        why = res["gate_errors"].get(k) or (
            "fingerprint differs between passes"
            if k in res["fingerprint_mismatch"] else "oracle mismatch")
        print(f"op {k} output wrong: {why}")
    if bad_oracle:
        print(verify_log[-3000:])

    e2e, samples = end_to_end(res)
    steady_n = len(res["passes"]) - 1
    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(res['layer'])} ops x {steady_n} steady passes, "
          f"{len(samples)} op samples, {res['cores']} cores")
    for k, (v, u) in e2e.items():
        print(f"  {k:<14} {v:10.4f} {u}")
    p90 = statistics.quantiles(samples, n=10, method="inclusive")[8]
    n_above = sum(1 for s in samples if s > p90)
    note = "" if n_above >= 10 else "  (withheld: fewer than 10 samples above)"
    print(f"  {'op_p90_s':<14} {p90:10.4f} s  n={len(samples)}{note}")
    print(f"  {'op_fail_ratio':<14} {failed / attempted:10.4f} ratio  "
          f"({failed}/{attempted})")

    if args.trace:
        metrics = layers.summarize(res, spans, n_cores)
        for k, (v, u) in metrics.items():
            print(f"  {k:<30} {v:14.4f} {u}")
        for mod, s in layers.by_module(res, spans):
            print(f"  module {mod:<28} {s:10.4f} s per traced pass")
    else:
        metrics = e2e
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u}
                       for k, (v, u) in metrics.items()}}
    print(json.dumps(out))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
