#!/usr/bin/env python3
"""Self-check of the benchmark's metric math (metrics.py) on hand-made
inputs whose answers are known: the tail-percentile rule, driver_s as
the complement of the union of task intervals, and slot_busy; and that
the metric names metrics.py produces are exactly those BENCHMARK.json lists.

Usage: python3 perfbench/selfcheck.py      (exit code 0 = all pass)
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def close(a, b, eps=1e-9):
    return abs(a - b) <= eps


def check_quantile():
    assert metrics.quantile([3.0], 0.5) == 3.0
    assert close(metrics.quantile([1.0, 2.0, 3.0, 4.0], 0.5), 2.5)
    assert close(metrics.quantile([4.0, 1.0, 3.0, 2.0], 0.75), 3.25)
    assert metrics.quantile([1.0, 9.0], 1.0) == 9.0


def check_tail():
    # 1..100: p90 = 90.1 has exactly 10 samples (91..100) above it and
    # p95 only 5, so p90 is the highest qualifying percentile
    xs = [float(i) for i in range(1, 101)]
    v, pct, n = metrics.tail(xs)
    assert (pct, n) == (90.0, 10) and close(v, 90.1), (v, pct, n)
    # 40 samples: p75 leaves 10 above, p90 only 4
    v, pct, n = metrics.tail([float(i) for i in range(40)])
    assert (pct, n) == (75.0, 10), (v, pct, n)
    # too few samples for any ladder step: falls back to the median
    v, pct, n = metrics.tail([5.0, 1.0, 3.0])
    assert (v, pct) == (3.0, 50.0), (v, pct, n)
    # ties at the top do not count as "beyond"
    v, pct, n = metrics.tail([1.0] * 30 + [2.0] * 9)
    assert pct == 50.0 and n == 9, (v, pct, n)


def check_union_and_driver():
    # overlapping [0,4] [2,6], nested [3,5], disjoint [8,9]: union 7
    assert close(metrics.union_length([(0, 4), (2, 6), (3, 5), (8, 9)], 0, 10), 7.0)
    # clipping to the job window [1, 8.5]: [1,6] + [8,8.5]
    assert close(metrics.union_length([(0, 4), (2, 6), (8, 9)], 1, 8.5), 5.5)
    assert metrics.union_length([], 0, 10) == 0.0
    # a 10 s job whose tasks cover 7 s of it leaves 3 s on the driver
    job = {"startMs": 1000.0, "endMs": 11000.0, "wallS": 10.0,
           "taskIntervalsMs": [(1000, 5000), (3000, 7000), (9000, 10000)]}
    assert close(metrics.driver_s(job), 3.0), metrics.driver_s(job)
    # concurrent tasks on several cores count once on the wall clock
    job["taskIntervalsMs"] = [(1000, 11000)] * 4
    assert close(metrics.driver_s(job), 0.0)


def check_slot_busy():
    # two 2 s jobs on 4 cores offer 16 slot-seconds; 12 s of task run
    jobs = [{"wallS": 2.0, "taskRunS": 8.0}, {"wallS": 2.0, "taskRunS": 4.0}]
    assert close(metrics.slot_busy(jobs, 4), 0.75)
    assert metrics.slot_busy([], 4) == 0.0


def check_names_match_benchmark_json():
    # every metric BENCHMARK.json lists is produced, and nothing else
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    job = {"index": 0, "traced": False, "startMs": 0.0, "endMs": 2000.0, "wallS": 2.0,
           "ok": True, "work": 10.0, "cpuS": 3.0, "liveHeapMb": 90.0,
           "taskIntervalsMs": [(0, 1000)], "counters": {}}
    for field in ("sparkJobs", "stages", "tasks", "taskRunS", "taskCpuS", "taskGcS",
                  "schedDelayS", "fetchWaitS", "shuffleWriteMb", "spillMb", "compileN",
                  "compileS", "planS", "tasksFailed", "stagesRetried", "jvmGcS"):
        job[field] = 1.0
    span = {"id": 0, "parent": -1, "job": 1, "name": "KMeans.step", "layer": "kmeans",
            "startMs": 0.0, "endMs": 500.0, "taskCpuNs": 1e8, "compileN": 1}
    record = {"meta": {"nproc": 4}, "setups": [{"setup_s": 5.0}] * 3,
              "jobs": [job, dict(job, index=1, traced=True)], "spans": [span]}
    e2e, _ = metrics.end_to_end(record)
    assert set(e2e) == {m["name"] for m in spec["end_to_end"]}, set(e2e)
    layer = metrics.per_layer(record)
    assert set(layer) == {m["name"] for m in spec["per_layer"]}, set(layer)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("check_"):
            fn()
            print(f"ok   {name}")
    print("metric math self-check passed")
