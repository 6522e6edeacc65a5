#!/usr/bin/env python3
"""The benchmark: one command that builds the program, generates seeded
inputs, runs one workload in a closed loop, checks the outputs and prints one
JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):

    queries       a fixed panel of registered queries from both tiers
    gbfs_ingest   the GBFS loop: parse + append snapshots, refresh the dashboard
    chain_stream  id-ordered document drops through ChainStream.runChainRound

`--trace 0` prints the end-to-end metrics; `--trace 1` registers listeners,
prints the per-layer metrics and writes a span file. The metric names and
units come from BENCHMARK.json. Everything the run writes stays under
`.bench_build/`. `--smoke` shrinks every input for the benchmark's tests.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# The `queries` panel (see perfbench/README.md for how it was chosen).
INTERACTIVE = ["f_try_pack", "a7_last_per_bucket", "p6_semi_join_filter",
               "j4_temporal_hour_join", "dq2_benford_audit", "e7_rfm_segmentation",
               "a18_approx_quantile"]
CURATION = ["ld1_exact_dedup", "lt36_quantile_norm", "ls11_pca_project", "lq12_pareto_frontier",
            "lt25_pmi_pairs"]

# Input sizes per workload; SMOKE shrinks them for the tests. gbfs_ingest
# follows the recorded feed (88 stations, 10-minute scrapes) with a refresh
# every 12 snapshots; chain_stream uses drops of 500 documents. README.md
# gives the sources, and why both loops are shorter than the ones specified.
SIZES = {
    "queries": {"sf": 0.01, "keys": INTERACTIVE + CURATION},
    "gbfs_ingest": {"stations": 88, "snapshots": 36, "refresh_every": 12},
    "chain_stream": {"docs": 1500, "drops": 3, "ctx": 256, "shards": 4},
}
SMOKE = {
    "queries": {"sf": 0.001, "keys": INTERACTIVE[:2] + CURATION[:2]},
    "gbfs_ingest": {"stations": 20, "snapshots": 6, "refresh_every": 2},
    "chain_stream": {"docs": 300, "drops": 2, "ctx": 256, "shards": 4},
}
JVM_TIMEOUT_S = 170


def read_json(path):
    with open(path) as f:
        return json.load(f)


def make_inputs(workload, size, seed, inputs):
    """Generates the run's inputs; returns the GBFS generator's truth."""
    if workload == "queries":
        gen.tables(os.path.join(inputs, "tables"), size["sf"], seed)
    elif workload == "gbfs_ingest":
        return gen.gbfs(os.path.join(inputs, "gbfs"), seed, size["stations"], size["snapshots"])
    else:
        gen.drops(os.path.join(inputs, "drops"), seed, size["docs"], size["drops"])
    return None


def check_tier(root, keys, tables, outputs, problems):
    """Checks each warm-up result with tools/check_correctness.py against its
    DuckDB oracle. Every registered query has one today; a key without one
    counts as a failed check. Returns the number of checks made."""
    oracles = read_json(os.path.join(outputs, "oracle_sql.json"))
    problems += [f"{k}: no oracle SQL" for k in keys if k not in oracles]
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check_correctness.py"),
                        tables, outputs], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    bad = [line[:300] for line in r.stdout.splitlines() if line.startswith(("FAIL", "ERROR"))]
    if r.returncode != 0 and not bad:
        bad = [f"check_correctness.py exited {r.returncode}: {r.stdout[-300:]}"]
    problems += bad
    return len(keys)


def launch(root, classes, params, log, timeout):
    """Runs perfbench.Main with `params`; returns True when it wrote its
    result. Its output goes to `log`."""
    jars = build.classpath(build.spark_jars(root))
    # the heap the program runs with (build.sbt: SPARK_DRIVER_MEM, default 8g)
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = ["java", f"-Xmx{heap}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(params['work'], 'tmp')}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes] + jars), "perfbench.Main"]
    cmd += [f"{k}={v}" for k, v in params.items()]
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=params["work"],
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: JVM exceeded {timeout}s (log: {log})\n")
            return False
    if r.returncode != 0 or not os.path.exists(params["result"]):
        sys.stderr.write(f"perfbench: JVM exited {r.returncode} (log: {log})\n")
        with open(log) as lf:
            sys.stderr.write(lf.read()[-3000:])
        return False
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.stderr.write("perfbench: run from the repository root (no src/main/scala here)\n")
        return 2
    spec = read_json(os.path.join(root, "BENCHMARK.json"))
    classes = build.build(root)

    size = (SMOKE if a.smoke else SIZES)[a.workload]
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run = os.path.join(root, build.OUT, "runs", f"{tag}-{os.getpid()}")
    traces = os.path.join(root, build.OUT, "traces", tag)
    inputs, work = os.path.join(run, "inputs"), os.path.join(run, "work")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    try:
        return measure(a, root, spec, classes, size, run, traces, inputs, work)
    finally:
        shutil.rmtree(run, ignore_errors=True)


def layer_report(a, res, truth, cpus, wall_s, spans, traces):
    """Per-pass layer metrics of the traced passes, plus the workload-specific
    ones and the self time per span kind, written to `layers.json`."""
    layers = dict(res["layers"])
    busy = layers.get("spark.exec_ms", 0.0) * cpus
    layers["spark.core_busy"] = layers.get("spark.cpu_ms", 0.0) / busy if busy else 0.0
    rows = truth["rows"] if a.workload == "gbfs_ingest" else 0
    layers["store.bytes_per_row"] = layers.get("store.bytes", 0.0) / rows if rows else 0.0
    for step, v in res["steps"].items():
        layers[f"{step}_ms"] = v["build_ms"] + v["action_ms"]
        layers[f"{step}.build_jobs"] = v["build_jobs"]
    upserts = res["setup_call_ms"].get("upsert")
    if upserts:
        layers["store.upsert_ms"] = statistics.median(upserts)
    traced_s = statistics.median(res["traced_pass_s"])
    layers["trace.overhead_ms"] = (traced_s - wall_s) * 1e3
    report = {"workload": a.workload, "seed": a.seed, "per_pass": layers,
              "self_ms": res["self_ms"], "steps": res["steps"],
              "traced_wall_s": traced_s, "untraced_wall_s": wall_s, "spans": spans,
              "traced_pass_s": res["traced_pass_s"], "untraced_pass_s": res["pass_s"]}
    with open(os.path.join(traces, "layers.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("layers " + json.dumps(report, sort_keys=True))
    return layers


def measure(a, root, spec, classes, size, run, traces, inputs, work):
    t0 = time.time()
    truth = make_inputs(a.workload, size, a.seed, inputs)
    gen_s = time.time() - t0

    cpus = os.cpu_count() or 1
    params = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "cpus": cpus, "inputs": inputs, "work": work,
              "result": os.path.join(run, "result.json"),
              "spans": os.path.join(traces, "spans.json")}
    keys = size.get("keys", [])
    if a.workload == "queries":
        params["keys"] = ",".join(keys)
    elif a.workload == "gbfs_ingest":
        params["refresh_every"] = size["refresh_every"]
    else:
        params.update(ctx=size["ctx"], shards=size["shards"])

    log = os.path.join(traces, "jvm.log")
    if not launch(root, classes, params, log, JVM_TIMEOUT_S):
        return 1
    res = read_json(params["result"])

    problems = list(res["errors"])
    checks = 0
    c = res["check"]
    if a.workload == "queries":
        checks = check_tier(root, keys, os.path.join(inputs, "tables"), c["outputs"], problems)
    elif a.workload == "gbfs_ingest":
        for k in ("rows", "estacoes", "capacidade_total", "bikes_disponiveis", "docks_disponiveis"):
            checks += 1
            if c[k] != truth[k]:
                problems.append(f"gbfs {k}: store reports {c[k]}, generator wrote {truth[k]}")
    else:
        checks = 1
        if c["missing"] or c["extra"] or c["curated"] != c["expected"]:
            problems.append(f"chain curated ids differ from batchChain survivors: {c}")
    attempted = res["attempted"] + checks
    failed = len(problems)

    lat = res["latencies_ms"]
    wall_s = statistics.median(res["pass_s"])
    values = {
        "setup_s": gen_s + res["setup_jvm_s"],
        "wall_s": wall_s,
        "call_p50_ms": statistics.median(lat) if lat else float("nan"),
        "heap_after_mb": res["heap_after_mb"],
    }
    if a.trace:
        values = layer_report(a, res, truth, cpus, wall_s, params["spans"], traces)
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
    for p in problems:
        print("FAILED " + p)
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
