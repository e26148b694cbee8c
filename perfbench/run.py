#!/usr/bin/env python3
"""Benchmark runner: builds the benchmark program, makes the seeded inputs,
runs one workload in a fresh JVM, checks its outputs and prints one JSON
line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload workforce|corpus \\
      --seed N --seconds S --trace 0|1

The last line of standard output is
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) of BENCHMARK.json. Lines before it describe the run: input
sizes, samples, box context and the outcome of every check.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ["workforce", "corpus"]
JVM_TIMEOUT_S = 150
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build():
    """Compiles the library sources and the benchmark program with sbt;
    returns the runtime classpath. Skipped when nothing changed since the
    last build."""
    src = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    newest = max(os.path.getmtime(os.path.join(d, f))
                 for s in src for d, _, fs in os.walk(s) for f in fs)
    newest = max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))
    if not os.path.exists(cp_file) or os.path.getmtime(cp_file) < newest:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "writeClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=840)
        if r.returncode != 0 or not os.path.exists(cp_file):
            sys.stderr.write(r.stdout[-4000:])
            fail("build failed")
        os.utime(cp_file)
    with open(cp_file) as f:
        return f.read().strip()


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(cp, workload, ind, out, seconds, trace):
    params = {}
    pfile = os.path.join(ind, "params.json")
    if os.path.exists(pfile):
        with open(pfile) as f:
            params = json.load(f)
    # the heap is touched at start, so peak RSS does not depend on how much of
    # it a run's allocations happened to reach
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", workload, "--in", ind,
              "--out", out, "--seconds", str(seconds), "--trace", str(trace),
              "--cores", str(cores())])
    if workload == "workforce":
        cmd += ["--csv-target", params["csv_target"], "--ppr-node", str(params["ppr_node"])]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "tmp"))
    with open(os.path.join(out, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, cwd=out, stdout=log, stderr=subprocess.STDOUT, env=env,
                           timeout=JVM_TIMEOUT_S)
    return r.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources next to the benchmark (src/main/scala/graft)")
    if not os.path.exists(os.path.join(ROOT, "tools", "gen_scale.py")):
        fail("no input generator next to the benchmark (tools/gen_scale.py)")
    t0 = time.time()
    cp = build()
    build_s = time.time() - t0
    ind = inputs.generate(ROOT, a.workload, a.seed)
    out = os.path.join(ROOT, ".perfbench", "runs", f"{a.workload}-seed{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rc = run_jvm(cp, a.workload, ind, out, a.seconds, a.trace)
    res_file = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with code {rc}")
    with open(res_file) as f:
        res = json.load(f)
    t1 = time.time()
    outcome = checks.check(a.workload, ind, out, res)
    check_s = time.time() - t1
    failed = outcome["failed"]
    attempted = int(res["attempted"])
    spec = checks.spec(ROOT)
    if a.trace:
        metrics = {m["name"]: {"value": res["layers"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["e2e"][m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    detail = {k: v for k, v in res.items()
              if k not in ("e2e", "layers", "oracles", "oracle")}
    detail.update(workload=a.workload, seed=a.seed, build_s=round(build_s, 3),
                  check_s=round(check_s, 3), inputs=inputs.describe(ind),
                  checks=outcome["checks"],
                  fail_frac=failed / max(attempted, 1))
    if not a.trace:
        # kept for reading along with the trace; not a BENCHMARK.json metric
        detail["e2e"] = res["e2e"]
    print(json.dumps(detail, sort_keys=True))
    shutil.rmtree(os.path.join(out, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": outcome["correct"] and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
