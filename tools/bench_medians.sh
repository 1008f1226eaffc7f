#!/bin/bash
# Repeat-median bench artifacts for a round, BOTH store temperatures:
#   BENCH_local_r<N>_medians.json      — WARM: ArtifactStore entries
#     reused within the session (the production economics:
#     train/detect once, many consumers).
#   BENCH_local_r<N>_coldmedians.json  — COLD: store cleared before
#     every run (SPARK_GRAFT_COLDSTORES=1), so the medians price the
#     training/detection cost itself.
# The round-14 review's one measurement-integrity gap: warm medians
# hide a regression in training cost (p118 reads 0.25 s warm vs ~20 s
# cold) until the driver's single cold run — which swings 2x with
# host contention — happens to catch it. Committing the cold medians
# beside the warm ones closes that gap; round_close.sh cites both.
#
# Usage: tools/bench_medians.sh <round-number> [sf-dir] [repeat]
set -euo pipefail
N=${1:?round number}
SF=${2:-/root/testdata/sf0.1}
REPEAT=${3:-3}
cd "$(dirname "$0")/.."

run_bench() { # $1 = artifact path, then extra env VAR=VAL args
  local out=$1; shift
  # keep only the FIRST "metric" line (the full per-query JSON; the
  # second is the tail summary for truncated collectors)
  # sbt prefixes forked stdout with "[info] " when writing to a pipe —
  # strip it or the artifact isn't valid JSON
  env SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_REPEAT="$REPEAT" "$@" \
    sbt -batch "runMain graft.Bench" \
    | sed 's/^\[info\] //' | grep '^{.*"metric"' | head -1 > "$out"
  python3 - "$out" <<'PY'
import json, sys
p = sys.argv[1]
j = json.load(open(p))
assert j.get("n_errors", 1) == 0, f"{p}: bench reported errors: {j.get('errors')}"
print(f"{p}: {j['value']:.1f}s / {len(j['queries'])}q (x{j.get('repeat', 1)})")
PY
}

run_bench "BENCH_local_r${N}_medians.json"
run_bench "BENCH_local_r${N}_coldmedians.json" SPARK_GRAFT_COLDSTORES=1
