"""Per-layer metrics from the spans of a traced run.

A span is one call across a layer boundary (see perfbench/src/perfbench/
Trace.scala): `op` around a whole operation, `queries` around registry
construction, `engine.*` around direct engine calls, `spark` around
planning and execution. Listener counters sit on the innermost span that
was open when Spark started the job. A layer's self time is its spans'
duration minus their child spans; its counters are those of every job
started under one of its spans. Steady-pass metrics are medians over the
traced steady passes; artifact metrics come from the cold pass.
"""
import collections
import json
import statistics

MB = 1e6
ENGINE = ("engine.ml", "engine.io", "engine.stream", "engine.ops",
          "engine.catalog", "engine.sql")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class Pass:
    """Aggregates of one traced pass."""

    def __init__(self, spans, wall, cores, op_layer):
        by_id = {s["id"]: s for s in spans}
        kids = collections.defaultdict(list)
        for s in spans:
            kids[s["parent"]].append(s)
        dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
        self.wall, self.cores = wall, cores
        self.self_s = collections.Counter()
        self.dur_by_name = collections.Counter()
        for s in spans:
            own = dur[s["id"]] - sum(dur[k["id"]] for k in kids[s["id"]])
            self.self_s[s["layer"]] += own
            self.dur_by_name[s["name"]] += dur[s["id"]]
        # counters: `total` over the pass, `own` on a layer's spans
        # themselves, `incl` on a layer's spans and their descendants
        self.total = collections.Counter()
        self.own = collections.defaultdict(collections.Counter)
        self.incl = collections.defaultdict(collections.Counter)
        for s in spans:
            c = s["counters"]
            if not c:
                continue
            self.total.update(c)
            self.own[s["layer"]].update(c)
            seen, p = set(), s
            while p is not None:
                seen.add(p["layer"])
                p = by_id.get(p["parent"])
            for layer in seen:
                self.incl[layer].update(c)
        self.fs = collections.Counter()
        self.fs_by_layer = collections.defaultdict(collections.Counter)
        for s in spans:
            if s["layer"] == "op" and s["fs"]:
                self.fs.update(s["fs"])
                self.fs_by_layer[op_layer[s["name"]]].update(s["fs"])

    def metrics(self):
        t, i = self.total, self.incl
        task_s = t["run_ms"] / 1e3
        io_w = self.fs["bytes"]
        m = {
            "queries.build_s": (self.self_s["queries"], "s"),
            "queries.eager_jobs": (self.own["queries"]["jobs"], "count"),
            "spark.plan_s": (self.dur_by_name["plan"], "s"),
            "spark.exec_s": (self.dur_by_name["exec"], "s"),
            "spark.jobs": (t["jobs"], "count"),
            "spark.stages": (t["stages"], "count"),
            "spark.tasks": (t["tasks"], "count"),
            "spark.task_cpu_s": (task_s, "s"),
            "spark.core_util": (task_s / (self.wall * self.cores), "ratio"),
            "spark.sched_wait_s": (t["sched_ms"] / 1e3, "s"),
            "spark.shuffle_write_mb": (t["shuffle_write_b"] / MB, "MB"),
            "spark.shuffle_read_mb": (t["shuffle_read_b"] / MB, "MB"),
            "spark.spill_mb": (t["spill_b"] / MB, "MB"),
            "spark.gc_s": (t["gc_ms"] / 1e3, "s"),
            "spark.task_retries": (t["retries"], "count"),
            "spark.input_mb": (t["input_b"] / MB, "MB"),
            "engine.ml.jobs": (i["engine.ml"]["jobs"], "count"),
            "engine.ml.task_cpu_s": (i["engine.ml"]["run_ms"] / 1e3, "s"),
            "engine.ml.shuffle_write_mb":
                (i["engine.ml"]["shuffle_write_b"] / MB, "MB"),
            "engine.ml.spill_mb": (i["engine.ml"]["spill_b"] / MB, "MB"),
            "engine.io.commit_s": (self.dur_by_name["CommitLog.commit"], "s"),
            "engine.io.write_mb": (io_w / MB, "MB"),
            "engine.io.files_written": (self.fs["files"], "count"),
            "engine.io.write_amp": (io_w / max(t["input_b"], 1), "ratio"),
            "engine.stream.task_cpu_s":
                (i["engine.stream"]["run_ms"] / 1e3, "s"),
            "engine.stream.write_mb":
                (self.fs_by_layer["engine.stream"]["bytes"] / MB, "MB"),
            "engine.ops.shuffle_write_mb":
                (i["engine.ops"]["shuffle_write_b"] / MB, "MB"),
        }
        for layer in ENGINE:
            m[f"{layer}.self_s"] = (self.self_s[layer], "s")
        return m


def summarize(res, spans_path, cores):
    spans = load(spans_path)
    by_pass = collections.defaultdict(list)
    for s in spans:
        by_pass[s["pass"]].append(s)
    passes = {p["pass"]: p for p in res["passes"]}
    traced = [p for p in res["passes"][1:] if p["traced"]]
    untraced = [p for p in res["passes"][1:] if not p["traced"]]
    agg = [Pass(by_pass[p["pass"]], p["wall_s"], cores, res["layer"])
           for p in traced]
    per = [a.metrics() for a in agg]
    out = {k: (statistics.median(m[k][0] for m in per), per[0][k][1])
           for k in per[0]}
    cold = Pass(by_pass[0], passes[0]["wall_s"], cores, res["layer"])
    # artifact stores: completed `_SUCCESS` markers under the warehouse;
    # build time is what the building ops paid over their warm median
    warm = collections.defaultdict(list)
    for p in res["passes"][1:]:
        for o in p["ops"]:
            warm[o["name"]].append(o["s"])
    build_s = 0.0
    for s in by_pass[0]:
        if s["layer"] == "op" and s["fs"] and s["fs"]["artifacts"] > 0:
            cold_s = (s["end_ns"] - s["start_ns"]) / 1e9
            build_s += max(0.0, cold_s - statistics.median(warm[s["name"]]))
    out["engine.io.artifacts_built"] = (cold.fs["artifacts"], "count")
    out["engine.io.artifacts_built_warm"] = (
        max(a.fs["artifacts"] for a in agg), "count")
    out["engine.io.artifact_build_s"] = (build_s, "s")
    t_pass = statistics.median(p["wall_s"] for p in traced)
    u_pass = statistics.median(p["wall_s"] for p in untraced)
    out["trace.pass_s"] = (t_pass, "s")
    out["trace.overhead_s"] = (t_pass - u_pass, "s")
    return dict(sorted(out.items()))


def by_module(res, spans_path):
    """Op seconds per defining `graft.queries` module, per traced pass."""
    spans = load(spans_path)
    traced = {p["pass"] for p in res["passes"][1:] if p["traced"]}
    tot = collections.Counter()
    for s in spans:
        if s["layer"] == "op" and s["pass"] in traced:
            tot[s["module"] or "(engine call)"] += \
                (s["end_ns"] - s["start_ns"]) / 1e9
    return sorted(((m, v / len(traced)) for m, v in tot.items()),
                  key=lambda kv: -kv[1])
