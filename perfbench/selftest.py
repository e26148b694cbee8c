#!/usr/bin/env python3
"""Counter self-test: runs one workload's traced run twice on one seed and
checks that the deterministic per-layer counters repeat exactly and that
executor CPU agrees within a tolerance. Also checks that no job or
executor CPU of the traced pass falls outside every layer, and that per-layer
self times plus the unattributed remainder add up to the traced pass.

Usage (from the root of a checkout):
  python3 perfbench/selftest.py --workload corpus --seed 1 [--seconds 8]
Exits 0 when every check holds, 1 otherwise.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LAYERS = ["etl", "jumps", "density", "paths", "envelope", "io", "text", "dedup", "graph"]
EXACT_SUFFIXES = (".jobs", ".tasks", ".shuffle_mb", ".shuffle_records", ".rows_out")
EXACT_NAMES = {"ckpt.jobs", "dedup.candidates", "dedup.edges", "dedup.cc_rounds",
               "graph.rounds", "sched.jobs_per_req", "sched.stages_per_req",
               "trace.unattributed_jobs"}
CPU_TOLERANCE = 0.25   # executor CPU of one pass, relative


def traced_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       stdout=subprocess.PIPE, text=True, check=True)
    last = json.loads(r.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in last["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    a = ap.parse_args()
    runs = [traced_run(a.workload, a.seed, a.seconds) for _ in range(2)]
    bad = []
    for k in sorted(runs[0]):
        x, y = runs[0][k], runs[1][k]
        if k.endswith(EXACT_SUFFIXES) or k in EXACT_NAMES:
            if x != y:
                bad.append(f"{k}: {x} != {y}")
        elif k.endswith(".cpu_s") and max(x, y) > 0.05:
            if abs(x - y) > CPU_TOLERANCE * max(x, y):
                bad.append(f"{k}: {x} vs {y} (beyond {CPU_TOLERANCE:.0%})")
    for i, m in enumerate(runs):
        # every job of the pass runs inside some layer call
        if m["trace.unattributed_jobs"] or m["trace.unattributed_cpu_s"]:
            bad.append(f"run {i}: {m['trace.unattributed_jobs']:.0f} jobs and "
                       f"{m['trace.unattributed_cpu_s']:.3f} s executor CPU outside every layer")
        total = sum(m[f"{l}.busy_s"] for l in LAYERS) + m["trace.unattributed_s"]
        if abs(total - m["trace.pass_s"]) > 1e-3:
            bad.append(f"run {i}: self times + unattributed = {total:.4f} s, "
                       f"traced pass = {m['trace.pass_s']:.4f} s")
    for b in bad:
        print(b)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "ok": not bad,
                      "mismatches": len(bad)}))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
