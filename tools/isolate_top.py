#!/usr/bin/env python3
"""Isolated-rerun tier for scale-sweep bench artifacts.

Usage: tools/isolate_top.py SWEEP.json [--top 10] [--runs 2]
                            [--mem 56g] [--cpus 32] [--out OUT.json]
                            [--prev PREV_SWEEP.json]

Why: the x10/x100 sweeps time every registered query SINGLE-RUN inside one
shared JVM. Minutes-scale rows in that regime carry several-x context noise
(heap shaped by 250 predecessors, code-cache churn, page-cache state): r10
measured a11 94.4 s in-sweep vs 8.4 s isolated and lg2 109.9 vs 18.8. A
per-query number read off the raw sweep is therefore NOT decidable
evidence — which is exactly what left r10's lg1_pagerank flag open.

This post-pass re-measures the top-N sweep rows (by sweep wall) in a FRESH
JVM each (sbt runMain graft.StageProbe <dir> <runs> <q> — own heap, own
JIT, own session; min-of-runs reported), then writes the artifact back
with both columns:

  "queries"       : the sweep numbers, untouched (whole-surface context)
  "isolated"      : {query: min isolated sec} for the re-measured tier
  "isolated_runs" : all raw isolated runs (auditable)
  "isolate_failed": {query: diagnosis} for rows whose fresh JVM did not
                    deliver the requested clean runs (crash, OOM,
                    truncated output) — a truncated rerun must never
                    stamp a verdict-facing number
  "isolate_noisy" : {query: spread} for rows whose isolated runs spread
                    beyond the noise band (max/min > 1.4 AND max > 5 s)
                    EVEN AFTER the automatic extra fresh-JVM rerun the
                    band triggers — the committed artifact is then
                    self-indicting about fresh-JVM variance instead of
                    leaving the correction to prose (r12: ld21's x10
                    pair [43.2, 27.8] read as a 2x regression until a
                    PLANS.md note supplied the 11.89 s re-measure)
  "isolate_top"/"isolate_runs_per_query"/"isolate_note": provenance

With --prev (the PRIOR round's same-scale artifact), the isolation set is
widened beyond the top-N wall rows: any query whose sweep number crosses
the comparator's regression band against the prior round's VERDICT-FACING
number (prior isolated column if present, else prior sweep number) is
auto-included. Rationale: a noisy 15x sweep blip on a mid-cost row (r11's
a14: 3.9 s isolated vs 58.4 in-sweep) only got settled because it happened
to crack the top 10 — the auto-include makes every would-be flag decidable
the round it appears instead of one round later.

The VERDICT-FACING per-query number for any re-measured row is
"isolated"; the sweep number remains only as the fleet-context datum.

Child JVMs run sequentially, so peak memory is one driver heap (--mem),
never sweep + rerun stacked.
"""
import argparse
import json
import re
import subprocess
import sys

LINE = re.compile(r"^\[stageprobe\] (\S+) run (\d+): ([0-9.]+) s\s*$")

# The compare_bench.py regression band, reused verbatim so "would this
# sweep row flag against last round" and "did it flag" share one formula.
FACTOR = 1.5
FLOOR_SEC = 0.2

# Fresh-JVM noise band: a min-of-N isolated vector whose spread crosses
# this (ratio AND absolute floor) gets one automatic extra fresh-JVM
# rerun merged in, and is stamped `isolate_noisy` if the spread persists.
NOISE_RATIO = 1.4
NOISE_FLOOR_SEC = 5.0


def spread_of(times):
    return max(times) / min(times) if min(times) > 0 else float("inf")


def is_noisy(times):
    return spread_of(times) > NOISE_RATIO and max(times) > NOISE_FLOOR_SEC


def rerun(query, sf_dir, runs, mem, cpus):
    """One fresh-JVM StageProbe invocation.

    Returns (times, failure): times is the full clean run list on success
    (rc == 0 AND all `runs` lines parsed) and None otherwise; failure is a
    short diagnosis string, or None on success. Partial times are NEVER
    returned as a result — a child that OOM'd after run 1 of 2 must not
    stamp min(partial) as the verdict-facing number.
    """
    cmd = ["sbt", "-batch", f"runMain graft.StageProbe {sf_dir} {runs} {query}"]
    env = dict(SPARK_DRIVER_MEM=mem, SPARK_GRAFT_CPUS=str(cpus))
    import os
    full_env = {**os.environ, **env}
    print(f"[isolate] {query}: {' '.join(cmd)} (mem={mem} cpus={cpus})",
          file=sys.stderr)
    proc = subprocess.run(cmd, capture_output=True, text=True, env=full_env)
    times = []
    for line in proc.stdout.splitlines():
        m = LINE.match(line.strip())
        if m and m.group(1) == query:
            times.append(float(m.group(3)))
    if proc.returncode != 0 or len(times) != runs:
        tail = "\n".join(proc.stdout.splitlines()[-15:])
        print(f"[isolate] {query} FAILED (rc={proc.returncode}, "
              f"{len(times)}/{runs} runs parsed):\n{tail}", file=sys.stderr)
        return None, f"rc={proc.returncode} parsed={len(times)}/{runs}"
    print(f"[isolate] {query}: min {min(times):.2f}s of {times}",
          file=sys.stderr)
    return times, None


def band_crossers(queries, prev_art):
    """Sweep rows that would flag against the prior round's verdict-facing
    numbers under the compare_bench band (drift-uncorrected — this is an
    INCLUSION heuristic for re-measurement, not a verdict)."""
    prev_q = prev_art.get("queries", {})
    prev_iso = prev_art.get("isolated", {})
    hits = []
    for q, cur in queries.items():
        prior = prev_iso.get(q, prev_q.get(q))
        if prior is None or prior <= 0:
            continue
        if cur > FACTOR * prior + FLOOR_SEC:
            hits.append(q)
    return hits


def main():
    ap = argparse.ArgumentParser(
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("sweep", help="sweep bench artifact (graft.Bench JSON)")
    ap.add_argument("--top", type=int, default=10,
                    help="re-measure the N slowest sweep rows (default 10)")
    ap.add_argument("--runs", type=int, default=2,
                    help="runs per query in the fresh JVM (default 2)")
    ap.add_argument("--mem", default="56g", help="child driver heap")
    ap.add_argument("--cpus", type=int, default=32, help="child local[N]")
    ap.add_argument("--out", help="output path (default: rewrite in place)")
    ap.add_argument("--prev", help="prior round's same-scale artifact: any "
                    "sweep row crossing the regression band against its "
                    "verdict-facing number is auto-included")
    args = ap.parse_args()

    with open(args.sweep) as f:
        art = json.load(f)
    queries = art.get("queries", {})
    sf_dir = art.get("sf")
    if not queries or not sf_dir:
        sys.exit("artifact lacks queries/sf — not a graft.Bench artifact")

    top = sorted(queries, key=lambda q: -queries[q])[:args.top]
    auto = []
    if args.prev:
        with open(args.prev) as f:
            prev_art = json.load(f)
        auto = [q for q in band_crossers(queries, prev_art) if q not in top]
        if auto:
            print(f"[isolate] auto-including {len(auto)} band-crossing rows "
                  f"vs {args.prev}: {sorted(auto)}", file=sys.stderr)
    targets = top + sorted(auto)
    isolated, isolated_runs, failed, noisy = {}, {}, {}, {}
    for q in targets:
        times, failure = rerun(q, sf_dir, args.runs, args.mem, args.cpus)
        if times is None:
            failed[q] = failure
            continue
        if is_noisy(times):
            # one automatic extra fresh JVM: a 2-run vector with +/-50%
            # fresh-JVM variance is not decidable evidence either way
            print(f"[isolate] {q}: spread {spread_of(times):.2f} crosses the "
                  f"noise band — extra fresh-JVM rerun", file=sys.stderr)
            extra, extra_failure = rerun(q, sf_dir, args.runs, args.mem,
                                         args.cpus)
            if extra:
                times = times + extra
            else:
                print(f"[isolate] {q}: extra rerun failed "
                      f"({extra_failure}); keeping original vector",
                      file=sys.stderr)
            if is_noisy(times):
                noisy[q] = round(spread_of(times), 3)
        isolated[q] = min(times)
        isolated_runs[q] = times

    art["isolated"] = isolated
    art["isolated_runs"] = isolated_runs
    # fully replace the prior run's failure/noise maps: a re-run where
    # previously-failed rows now succeed must not leave stale entries
    # contradicting the fresh `isolated` numbers
    art.pop("isolate_failed", None)
    art.pop("isolate_noisy", None)
    if failed:
        art["isolate_failed"] = failed
    if noisy:
        art["isolate_noisy"] = noisy
    art["isolate_top"] = args.top
    art["isolate_auto_included"] = sorted(auto)
    art["isolate_runs_per_query"] = args.runs
    art["isolate_note"] = (
        "verdict-facing per-query number for re-measured rows is 'isolated' "
        "(fresh JVM, min-of-runs); 'queries' keeps the in-sweep single-run "
        "numbers, which carry shared-JVM context noise; rows in "
        "'isolate_failed' have NO isolated number (truncated/crashed rerun) "
        "and must be re-measured, never read off the sweep; with --prev, "
        "rows crossing the compare_bench band against the prior round's "
        "verdict-facing number are auto-included beyond the top-N; rows in "
        "'isolate_noisy' kept a >1.4x run spread even after an automatic "
        "extra fresh-JVM rerun — read their 'isolated' min as an ambient-"
        "noise-bounded figure, not a stable point estimate")
    print(f"[isolate] noisy rows (spread persisted after extra rerun): "
          f"{noisy or 'none'}", file=sys.stderr)
    out = args.out or args.sweep
    with open(out, "w") as f:
        json.dump(art, f)
        f.write("\n")
    print(f"[isolate] wrote {out}: {len(isolated)}/{len(targets)} rows "
          f"re-measured, {len(failed)} failed", file=sys.stderr)


if __name__ == "__main__":
    main()
