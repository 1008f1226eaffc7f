#!/usr/bin/env python3
"""The repo benchmark: one fresh JVM runs one timed pass over a workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (into .bench_build/) and exports the runtime
classpath; every run is then a plain `java` process on that classpath.

A run:
  1. wipes the output and Spark local directories of the previous run;
  2. starts `graftbench.Pass`, which builds the session (setup_s), runs
     the workload's queries once, in an order the seed permutes, under
     local[$SPARK_GRAFT_CPUS] (default: all cores), and persists every
     query's full result as parquet;
  3. checks each result against the DuckDB oracle, outside the timed
     region (perfbench/oracle.py);
  4. prints one JSON line on stdout: the end-to-end metrics with
     --trace 0, the per-layer metrics derived from the traced run's spans
     with --trace 1 (perfbench/layers.py). Everything else goes to stderr.

The input is the committed sf0.1 table set (perfbench/data/sf0.1, about
600k lineitem rows, 17 MB of parquet); $SPARK_GRAFT_SF_DIR points the run
at another table set. `--seconds` is the nominal length of one pass:
a run always measures exactly one pass, because the first pass in a
process (class loading, ~1000 whole-stage compiles, JIT) is what a DCC
step pays and is not repeated within the process.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN = os.path.join(BUILD, "run")
DATA = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(HERE, "data", "sf0.1"))
ENTRY = os.path.join(HERE, "data", "sf0.001")
RUN_TIMEOUT_S = 175

# Each workload is a fixed subset of one query family, chosen to cover its
# layers within the run-length budget; the seed only permutes the order.
WORKLOADS = {
    # pedsnetdcc parity steps, one per kind: merge, eras, age transform,
    # id map, checks, derivation. Planning-, codegen- and write-bound with
    # table-sized outputs; no store and no Retrieval. (q27/q32/q39 would
    # write scratch files outside the run.)
    "dcc_etl": [
        "q07_merge", "q10_era", "q13_age", "q15_idmap", "q18_checks",
        "q40_lab_loinc"],
    # rankers over shuffle- and CPU-bound postings and scoring, with tiny
    # top-k outputs; no table-sized write and no store.
    "retrieval": ["p112_bm25", "p132_bm25f"],
    # two stores trained from empty in sequential driver-bound loops (LR
    # gradient rounds, k-means rounds) and one consumer that hits the LR
    # store; no Retrieval and no table-sized write.
    "trainers": ["p117_lr_classifier", "p124_calibration", "p22_kmeans_train"],
}

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build once per source tree; return the exported runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
         "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines()
             if l and not l.startswith("[") and ".jar" in l]
    sys.stderr.writelines(l + "\n" for l in p.stdout.splitlines()
                          if l.startswith("["))
    if p.returncode != 0 or not lines:
        die(f"build failed (sbt exit {p.returncode})")
    log(f"built in {time.time() - t0:.1f}s")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def run_pass(cp, queries, trace, workload):
    """Run the harness JVM once; return its result dict (and spans path)."""
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("out", "local", "tmp"):
        os.makedirs(os.path.join(RUN, d))
    result = os.path.join(RUN, "result.json")
    spans = os.path.join(RUN, "spans.jsonl")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}",
            f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}",
            "-cp", cp, "graftbench.Pass",
            "--entry", ENTRY, "--data", DATA, "--out", os.path.join(RUN, "out"),
            "--queries", ",".join(queries), "--cpus", cpus,
            "--trace", str(trace), "--workload", workload,
            "--result", result, "--spans", spans]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(RUN, "local"))
    p = subprocess.run(cmd, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr,
                       timeout=RUN_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(result):
        die(f"harness exited with {p.returncode}")
    with open(result) as f:
        return json.load(f), spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources next to the benchmark; run from a checkout")
    for d in (DATA, ENTRY):
        if not os.path.isdir(d):
            die(f"no input tables at {d}")
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import layers
    from oracle import Oracle

    cp = classpath()
    queries = list(WORKLOADS[a.workload])
    random.Random(a.seed).shuffle(queries)
    log(f"{a.workload} seed={a.seed} order={','.join(queries)}")
    t0 = time.time()
    res, spans = run_pass(cp, queries, a.trace, a.workload)
    log(f"harness ran {time.time() - t0:.1f}s")

    t0 = time.time()
    oracle = Oracle(DATA, os.path.join(BUILD, "expected"))
    with ProcessPoolExecutor(max_workers=min(4, len(res["queries"]))) as ex:
        whys = list(ex.map(oracle.check, *zip(*(
            (q["name"], q["oracle_sql"], os.path.join(RUN, "out", q["name"]))
            for q in res["queries"]))))
    failed = 0
    for q, why in zip(res["queries"], whys):
        why = q["error"] or why
        log(f"{q['name']:28s} build {q['build_s']:7.2f}s sink "
            f"{q['sink_s']:7.2f}s live heap {q['live_heap_mb']:7.1f}MB "
            f"{'FAIL ' + why if why else 'ok'}")
        failed += bool(why)
    log(f"checked in {time.time() - t0:.1f}s")
    attempted = len(res["queries"])

    if a.trace:
        metrics = layers.derive(spans)
    else:
        metrics = {k: {"value": res[k], "unit": u}
                   for k, u in layers.END_TO_END.items()}
    for k, m in metrics.items():
        log(f"{k} = {m['value']:.6g} {m['unit']}")
    log(f"failed_ops = {failed / attempted:.6g} share ({failed}/{attempted})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
