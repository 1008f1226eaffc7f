#!/usr/bin/env python3
"""A/B the repo benchmark between two checkouts.

    python3 tools/perf_ab.py PARENT CHANGE --workload W --seeds A-B \
        [--claim wall_s] [--trace 0|1] [--seconds 20]

PARENT and CHANGE are two checkouts of the repository (for example a
`git archive` of each commit). For every seed in A..B this runs
`perfbench/run.py` once in each checkout, alternating which side goes
first (odd seeds: parent first; even seeds: change first), and then
prints:

  - every run, as one line per side and seed;
  - per metric, each side's median and quartiles, and how many pairs
    the change won, lost or tied;
  - the verdict on the claimed metric (`--claim`, default `wall_s`;
    `--claim none` for a should-not-move check): a gain counts only if
    the change wins at least nine tenths of the pairs (ties count for
    neither side) AND the median gap is larger than the parent's
    interquartile range;
  - for every end-to-end metric, whether the change's median stays
    within the bound `BENCHMARK.json` sets for it, and whether any run
    failed operations or was not oracle-correct.

Each run builds its checkout once (into that checkout's ignored
`.bench_build/`); this script itself writes nothing, and nothing under
`perfbench/`. The exit status is 0 when every run completed, whether
or not the claim holds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3) with linear interpolation between order stats."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0], s[0], s[0]
    q = statistics.quantiles(s, n=4, method="inclusive")
    return q[0], q[1], q[2]


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not line:
        raise SystemExit(f"run failed in {checkout} (seed {seed}, "
                         f"exit {p.returncode})")
    out = json.loads(line)
    return {
        "correct": out["correct"],
        "failed": out["failed"],
        "attempted": out["attempted"],
        "metrics": {k: v["value"] for k, v in out["metrics"].items()},
    }


def seed_range(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--claim", default="wall_s",
                    help="the metric a gain is claimed on")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m for m in bench["end_to_end"]}

    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for seed in seed_range(a.seeds):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            r = run(sides[side], a.workload, seed, a.seconds, a.trace)
            runs[side].append(r)
            ms = " ".join(f"{k}={v:.3f}" for k, v in sorted(r["metrics"].items()))
            print(f"seed {seed:>3} {side:<6} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {ms}", flush=True)

    names = sorted(runs["parent"][0]["metrics"])
    print()
    verdicts = []
    for name in names:
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        lower = bounds.get(name, {}).get("better", "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        losses = sum((y > x) if lower else (y < x) for x, y in zip(p, c))
        ties = len(p) - wins - losses
        pq, cq = quartiles(p), quartiles(c)
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        iqr = pq[2] - pq[0]
        print(f"{name}: parent median {pq[1]:.3f} [q1 {pq[0]:.3f}, "
              f"q3 {pq[2]:.3f}]  change median {cq[1]:.3f} "
              f"[q1 {cq[0]:.3f}, q3 {cq[2]:.3f}]  "
              f"change {(cq[1] / pq[1] - 1) * 100 if pq[1] else 0:+.1f}%  "
              f"wins {wins}/{len(p)}, losses {losses}, ties {ties}")
        if name == a.claim:
            ok = wins * 10 >= 9 * len(p) and gap > iqr
            verdicts.append(
                f"CLAIM {name}: {'HOLDS' if ok else 'NOT MET'} "
                f"(wins {wins}/{len(p)}, need >= 9/10 of pairs; median gap "
                f"{gap:.3f} vs parent IQR {iqr:.3f})")
        if name in bounds and "bound" in bounds[name]:
            b = bounds[name]["bound"]
            worse = (cq[1] > pq[1] * (1 + b)) if lower else (cq[1] < pq[1] * (1 - b))
            verdicts.append(
                f"BOUND {name}: {'EXCEEDED' if worse else 'within'} "
                f"(bound {b:.0%}, change {(cq[1] / pq[1] - 1) * 100 if pq[1] else 0:+.1f}%)")
    for side in ("parent", "change"):
        bad = [i for i, r in enumerate(runs[side])
               if not r["correct"] or r["failed"]]
        verdicts.append(f"{side}: {len(runs[side]) - len(bad)}/"
                        f"{len(runs[side])} runs oracle-correct with 0 failed")
    print()
    print("\n".join(verdicts))


if __name__ == "__main__":
    main()
