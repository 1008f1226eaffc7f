#!/usr/bin/env python3
"""Print every workload's end-to-end and per-layer numbers in one go.

    python3 perfbench/report.py [--seed N] [--pairs P] [--write] [WORKLOAD ...]

For each workload and each of P seeds this runs perfbench/run.py twice:
untraced (the end-to-end metrics, with failed_ops) and traced (the
per-layer metrics), and prints the medians over the seeds. The tracing
overhead is the median traced wall time minus the median untraced one.
With --write, each workload's table is saved to
perfbench/results/<workload>.json.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import layers  # noqa: E402
from run import RUN, WORKLOADS  # noqa: E402

SPANS = os.path.join(RUN, "spans.jsonl")


def bench(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "20", "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def median_metrics(results):
    """Per metric, the median over runs, with the unit."""
    return {k: {"value": statistics.median(r["metrics"][k]["value"] for r in results),
                "unit": v["unit"]} for k, v in results[0]["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--write", action="store_true")
    ap.add_argument("workloads", nargs="*", help="default: all")
    a = ap.parse_args()
    for w in a.workloads:
        if w not in WORKLOADS:
            ap.error(f"unknown workload {w}")
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    seeds = [a.seed + i for i in range(a.pairs)]
    for w in a.workloads or WORKLOADS:
        e2e, traced, modules = [], [], defaultdict(list)
        for seed in seeds:
            e2e.append(bench(w, seed, 0))
            traced.append(bench(w, seed, 1))
            for k, v in layers.modules_by_stage_time(SPANS):
                modules[k].append(v)
        m, lm = median_metrics(e2e), median_metrics(traced)
        modules = {k: statistics.median(v + [0.0] * (a.pairs - len(v)))
                   for k, v in modules.items()}
        print(f"== {w} (seeds {seeds}, local[{cores}], medians)")
        for k in layers.END_TO_END:
            print(f"  {k:34s} {m[k]['value']:12.4f} {m[k]['unit']}")
        failed = sum(r["failed"] for r in e2e + traced)
        attempted = sum(r["attempted"] for r in e2e + traced)
        share = failed / attempted
        print(f"  {'failed_ops':34s} {share:12.4f} share ({failed}/{attempted})")
        overhead = lm["trace.wall_s"]["value"] - m["wall_s"]["value"]
        print(f"  {'trace.overhead_s':34s} {overhead:12.4f} s")
        for k, v in lm.items():
            print(f"  {k:34s} {v['value']:12.4f} {v['unit']}")
        for k, v in sorted(modules.items(), key=lambda kv: -kv[1]):
            print(f"  {'stage_s of ' + k:34s} {v:12.4f} s")
        if a.write:
            os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
            with open(os.path.join(HERE, "results", f"{w}.json"), "w") as f:
                json.dump({
                    "workload": w, "seeds": seeds, "cores": int(cores),
                    "cpu": cpu_model(), "queries": WORKLOADS[w],
                    "end_to_end": m,
                    "failed_ops": {"value": share, "unit": "share"},
                    "trace_overhead_s": overhead,
                    "per_layer": lm,
                    "stage_s_by_module": modules,
                }, f, indent=1)
                f.write("\n")


if __name__ == "__main__":
    main()
