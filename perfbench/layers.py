"""Per-layer metrics derived from a traced run's spans.

The harness writes one JSON object per line: spans of kind run, query,
build (the call into the queries layer), sink (the persist), job, stage
and sql (one Catalyst execution), each with its parent, plus one
`counters` line. Self time of a layer is its spans' duration minus the
part of that interval their child spans cover.
"""
import json
from collections import defaultdict

MB = 1048576.0

END_TO_END = {"wall_s": "s", "setup_s": "s", "cpu_s": "s",
              "peak_live_heap_mb": "MB"}

# Engine modules reported one by one: those that own most stage time on
# some workload. A job belongs to the module of the first `graft.*` frame
# of its call site; `bench` is the harness's own persist of lazy results.
MODULES = ["bench", "core.Caching", "core.Tables", "pipeline.Curation",
           "pipeline.Similarity", "pipeline.Retrieval",
           "queries.ParityQueries", "operators.IdMapping"]

PER_LAYER = {
    "trace.wall_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "input.read_mb": "MB",
    "sink.write_s": "s", "sink.output_mb": "MB", "sink.output_rows": "count",
    "catalyst.executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimizer_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count",
    "exec.stages_skipped": "count", "exec.tasks": "count",
    "exec.task_failures": "count", "exec.stage_active_s": "s",
    "exec.driver_gap_s": "s", "exec.slot_idle_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.task_gc_s": "s",
    "exec.task_deser_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_mb": "MB",
    "cache.peak_storage_mb": "MB", "cache.unpersists": "count",
    "cache.clear_unpersists": "count",
    "jvm.jit_s": "s", "jvm.gc_s": "s",
    "self.run_s": "s", "self.query_s": "s", "self.build_s": "s",
    "self.sink_s": "s", "self.job_s": "s", "self.stage_s": "s",
}
for _m in MODULES:
    PER_LAYER.update({f"{_m}.jobs": "count", f"{_m}.stage_s": "s",
                      f"{_m}.task_cpu_s": "s"})


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def load(path):
    spans, counters = [], {}
    with open(path) as f:
        for line in f:
            o = json.loads(line)
            if o.get("kind") == "counters":
                counters = o
            else:
                spans.append(o)
    return spans, counters


def derive(path):
    spans, counters = load(path)
    by_kind = defaultdict(list)
    children = defaultdict(list)
    for s in spans:
        by_kind[s["kind"]].append(s)
        if s["kind"] != "sql":  # executions overlap their jobs, not nest
            children[s["parent"]].append(s)
    kind_of = {s["id"]: s["kind"] for s in spans}
    run = by_kind["run"][0]
    ra = run["attrs"]
    dur = lambda s: (s["end_us"] - s["start_us"]) / 1e6
    iv = lambda ss: [(c["start_us"], c["end_us"]) for c in ss]

    def self_s(kind):
        return sum(dur(s) - covered(iv(children[s["id"]]), s["start_us"],
                                    s["end_us"]) / 1e6 for s in by_kind[kind])

    stages = by_kind["stage"]
    jobs = by_kind["job"]
    job_of = {j["id"]: j for j in jobs}
    st = lambda k: sum(s["attrs"][k] for s in stages)
    sink_stages = [s for s in stages
                   if kind_of.get(job_of.get(s["parent"], {}).get("parent")) == "sink"]
    wall = ra["wall_ms"] / 1e3
    active = covered(iv(stages), run["start_us"], run["end_us"]) / 1e6
    task_run = st("run_ms") / 1e3
    sql = by_kind["sql"]
    v = {
        "trace.wall_s": wall,
        "queries.build_s": sum(dur(s) for s in by_kind["build"]),
        "queries.build_jobs": sum(kind_of.get(j["parent"]) == "build" for j in jobs),
        "input.read_mb": st("input_bytes") / MB,
        "sink.write_s": sum(dur(s) for s in by_kind["sink"]),
        "sink.output_mb": sum(s["attrs"]["output_bytes"] for s in sink_stages) / MB,
        "sink.output_rows": sum(s["attrs"]["output_rows"] for s in sink_stages),
        "catalyst.executions": len(sql),
        "catalyst.analysis_s": sum(q["attrs"]["analysis_ms"] for q in sql) / 1e3,
        "catalyst.optimizer_s": sum(q["attrs"]["optimization_ms"] for q in sql) / 1e3,
        "catalyst.planning_s": sum(q["attrs"]["planning_ms"] for q in sql) / 1e3,
        "codegen.compiles": ra["codegen_compiles"],
        "codegen.compile_s": ra["codegen_compile_ms"] / 1e3,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.stages_skipped": max(0, sum(j["attrs"]["stage_ids"] for j in jobs)
                                   - sum(s["name"].endswith(".0") for s in stages)),
        "exec.tasks": counters["tasks"],
        "exec.task_failures": counters["task_failures"],
        "exec.stage_active_s": active,
        "exec.driver_gap_s": wall - active,
        "exec.slot_idle_s": active * ra["cores"] - task_run,
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": st("cpu_ns") / 1e9,
        "exec.task_gc_s": st("gc_ms") / 1e3,
        "exec.task_deser_s": st("deser_ms") / 1e3,
        "shuffle.write_mb": st("shuffle_write_bytes") / MB,
        "shuffle.read_mb": st("shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_s": st("fetch_wait_ms") / 1e3,
        "shuffle.spill_mb": st("spill_bytes") / MB,
        "cache.peak_storage_mb": counters["peak_storage_bytes"] / MB,
        "cache.unpersists": counters["rdd_unpersist_events"],
        "cache.clear_unpersists": ra["unpersists"],
        "jvm.jit_s": ra["jit_ms"] / 1e3,
        "jvm.gc_s": ra["gc_ms"] / 1e3,
        "self.run_s": dur(run) - covered(iv(by_kind["query"]), run["start_us"],
                                         run["end_us"]) / 1e6,
        "self.query_s": self_s("query"),
        "self.build_s": self_s("build"),
        "self.sink_s": self_s("sink"),
        "self.job_s": self_s("job"),
        "self.stage_s": sum(dur(s) for s in stages),
    }
    per_mod = defaultdict(lambda: [0, 0.0, 0.0])
    for j in jobs:
        per_mod[j["attrs"]["module"]][0] += 1
    for s in stages:
        m = job_of.get(s["parent"], {}).get("attrs", {}).get("module", "bench")
        per_mod[m][1] += dur(s)
        per_mod[m][2] += s["attrs"]["cpu_ns"] / 1e9
    for m in MODULES:
        n, stage_s, cpu_s = per_mod.get(m, (0, 0.0, 0.0))
        v.update({f"{m}.jobs": n, f"{m}.stage_s": stage_s,
                  f"{m}.task_cpu_s": cpu_s})
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}


def modules_by_stage_time(path):
    """Every module seen in a trace, with its stage seconds, largest first."""
    spans, _ = load(path)
    jobs = {s["id"]: s for s in spans if s["kind"] == "job"}
    t = defaultdict(float)
    for s in spans:
        if s["kind"] == "stage":
            m = jobs.get(s["parent"], {}).get("attrs", {}).get("module", "bench")
            t[m] += (s["end_us"] - s["start_us"]) / 1e6
    return sorted(t.items(), key=lambda kv: -kv[1])
