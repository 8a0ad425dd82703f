#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage: python3 perfbench/run.py --workload <kmeans_text|curate_dedup>
           --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source if needed (build.py), runs
perfbench.Main in one JVM on min(nproc, 4) local cores inside a fresh
scratch directory under perfbench/.work, and prints two lines: a run
report (JSON with the run metadata and per-job host telemetry summary)
and, last, the result object {"correct", "attempted", "failed", "metrics"}.
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
The raw run record, spans included, is kept in perfbench/.runs/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("kmeans_text", "curate_dedup")
RUN_LIMIT_S = 170  # the whole run, build excluded, stays below this
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def units():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def commit_id(digest):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + digest


def run_jvm(args, classes, jars, digest, work, out, deadline):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              # a curate job's generated classes sit right at the default
              # 100-entry codegen cache: there, repeated jobs recompile 0 or
              # 20-40 classes each, at random; with room, every job reuses them
              "-Dspark.sql.codegen.cache.maxEntries=1000",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out, "--commit", commit_id(digest)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0:
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"benchmark JVM {why}:\n{tail}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    try:
        classes, jars, digest = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + RUN_LIMIT_S
    e2e_units, layer_units = units()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    raw = os.path.join(work, "record.json")
    try:
        run_jvm(args, classes, jars, digest, work, raw, deadline - 15)
        record = json.load(open(raw))
    except Exception as e:  # no result line: the run did not complete
        print(f"run failed: {e}", file=sys.stderr)
        return 1
    finally:
        runs = os.path.join(HERE, ".runs")
        os.makedirs(runs, exist_ok=True)
        if os.path.exists(raw):
            shutil.copy(raw, os.path.join(runs, tag + ".json"))
        shutil.rmtree(work, ignore_errors=True)

    jobs = record["jobs"]
    failed = sum(1 for j in jobs if not j["ok"])
    e2e, info = metrics.end_to_end(record)
    if args.trace:
        values, unit_of = metrics.per_layer(record), layer_units
    else:
        values, unit_of = e2e, e2e_units
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "meta": record["meta"], **info,
        "setup_s_reps": [s["setup_s"] for s in record["setups"]],
        "job_steal_s_max": max(j["stealS"] for j in jobs),
        "job_load1_max": max(j["load1"] for j in jobs),
        "failures": sorted({j["failure"] for j in jobs if j["failure"]}),
    }
    print(json.dumps(report, sort_keys=True))
    result = {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": unit_of[k]} for k in unit_of},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
