#!/usr/bin/env python3
"""Report-only job census of one perfbench trace (not a gate).

    python3 tools/op_jobs.py .bench_build/traces/pipeline-1.jsonl [pass]

The trace is the span JSONL that `python3 perfbench/run.py --workload W
--seed N --trace 1` writes. For every op it prints its fastest steady
latency (the smallest `op` span over the passes after the cold one,
the figure `pass_s` sums) and the Spark jobs and tasks started under
its spans in one traced steady pass (the first one, or `pass`), then the
same counts for each span nested in it, by layer and name. The last
line totals the ops.
"""
import collections
import json
import sys


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    spans = load(sys.argv[1])
    traced = sorted({s["pass"] for s in spans if s["traced"] and s["pass"] > 0})
    if not traced:
        sys.exit("no traced steady pass in this trace (run with --trace 1)")
    census = int(sys.argv[2]) if len(sys.argv) == 3 else traced[0]
    if census not in traced:
        sys.exit(f"pass {census} is not a traced steady pass: {traced}")

    fastest = collections.defaultdict(lambda: float("inf"))
    for s in spans:
        if s["layer"] == "op" and s["pass"] > 0:
            fastest[s["name"]] = min(fastest[s["name"]],
                                     (s["end_ns"] - s["start_ns"]) / 1e9)

    ps = [s for s in spans if s["pass"] == census]
    kids = collections.defaultdict(list)
    for s in ps:
        kids[s["parent"]].append(s)

    def under(s):
        """(jobs, tasks) of `s` and every span nested in it."""
        c = s["counters"] or {}
        jobs, tasks = c.get("jobs", 0), c.get("tasks", 0)
        for k in kids[s["id"]]:
            j, t = under(k)
            jobs, tasks = jobs + j, tasks + t
        return jobs, tasks

    def nested(s, depth):
        for k in sorted(kids[s["id"]], key=lambda k: k["start_ns"]):
            j, t = under(k)
            if j or t:
                print(f"{'':{2 * depth}}{k['layer'] + ' ' + k['name']:<{46 - 2 * depth}}"
                      f"{'':>10} {j:6d} {t:6d}")
            nested(k, depth + 1)

    print(f"pass {census} of {sys.argv[1]}")
    print(f"{'op':<46}{'fastest_s':>10} {'jobs':>6} {'tasks':>6}")
    total = [0, 0]
    for s in sorted((s for s in ps if s["layer"] == "op"),
                    key=lambda s: s["start_ns"]):
        j, t = under(s)
        total[0] += j
        total[1] += t
        print(f"{s['name']:<46}{fastest[s['name']]:10.3f} {j:6d} {t:6d}")
        nested(s, 1)
    print(f"{'total':<46}{sum(fastest.values()):10.3f} {total[0]:6d} {total[1]:6d}")


if __name__ == "__main__":
    main()
