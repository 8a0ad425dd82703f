"""Metric math of the benchmark: everything printed is derived here from
the raw run record perfbench.Main writes (see README.md for the list).
selfcheck.py tests the rules below on hand-made inputs.
"""

TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
LAYERS = ("sources", "kmeans", "text", "dedup")


def quantile(values, q):
    """Linear-interpolation quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return quantile(values, 0.5)


def tail(values, beyond=10):
    """The highest ladder percentile with at least `beyond` samples
    strictly above it. Returns (value, percentile, samples above); when
    no ladder step qualifies (fewer than 2*beyond samples), the median.
    """
    best = None
    for pct in TAIL_LADDER:
        v = quantile(values, pct / 100.0)
        n = sum(1 for x in values if x > v)
        if n >= beyond:
            best = (v, pct, n)
    if best is None:
        v = median(values)
        best = (v, 50.0, sum(1 for x in values if x > v))
    return best


def union_length(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def driver_s(job):
    """Job wall time during which no task of the job was running."""
    busy_ms = union_length(job["taskIntervalsMs"], job["startMs"], job["endMs"])
    return max(0.0, job["wallS"] - busy_ms / 1e3)


def slot_busy(jobs, cores):
    """Task run time over the task slots the jobs' wall time offered."""
    slots = sum(j["wallS"] for j in jobs) * cores
    return sum(j["taskRunS"] for j in jobs) / slots if slots > 0 else 0.0


def end_to_end(record):
    jobs = [j for j in record["jobs"] if not j["traced"]]
    walls = [j["wallS"] for j in jobs]
    tail_v, tail_pct, tail_n = tail(walls)
    m = {
        "setup_s": median([s["setup_s"] for s in record["setups"]]),
        "job_s.p50": median(walls),
        "job_s.tail": tail_v,
        "work_per_s": sum(j["work"] for j in jobs) / sum(walls),
        "cpu_s_per_job": median([j["cpuS"] for j in jobs]),
        "live_heap_peak_mb": max(j["liveHeapMb"] for j in jobs),
    }
    info = {"jobs": len(jobs), "tail_pct": tail_pct, "tail_samples_beyond": tail_n,
            "failed_ratio": failed_ratio(record)}
    return m, info


def failed_ratio(record):
    """Jobs that threw or failed their output check, over jobs attempted."""
    return sum(1 for j in record["jobs"] if not j["ok"]) / len(record["jobs"])


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(record):
    """Per-layer metrics of a traced run. Span metrics come from the
    traced jobs; spark.* and jvm.* from its untraced jobs (the job as a
    user runs it). Every value is a mean per job unless its unit says
    otherwise."""
    traced = [j for j in record["jobs"] if j["traced"]]
    plain = [j for j in record["jobs"] if not j["traced"]] or traced
    spans = record["spans"]
    by_job = {}
    for s in spans:
        by_job.setdefault(s["job"], []).append(s)
    nt = max(1, len(traced))

    def dur(s):
        return (s["endMs"] - s["startMs"]) / 1e3

    def span_total(name):
        return sum(dur(s) for s in spans if s["name"] == name) / nt

    def counter(key):
        return _mean(j["counters"].get(key, 0.0) for j in traced)

    m = {}
    # graft.sources
    m["sources.sample_s"] = span_total("PointsText.sampleCentroids")
    m["sources.read_s"] = span_total("PointsText.read")
    m["sources.write_s"] = (span_total("PointsText.writeCentroids")
                            + span_total("parquet write"))
    m["sources.input_mb"] = counter("sources.input_mb")
    m["sources.output_mb"] = counter("sources.output_mb")
    # graft.operators.KMeans
    steps = [[s for s in by_job.get(j["index"], []) if s["name"] == "KMeans.step"]
             for j in traced]
    steps = [st for st in steps if st]
    all_steps = [s for st in steps for s in st]
    m["kmeans.iters"] = counter("kmeans.iters")
    m["kmeans.first_iter_s"] = _mean(dur(st[0]) for st in steps)
    m["kmeans.iter_s"] = _mean(dur(s) for st in steps for s in st[1:])
    m["kmeans.task_cpu_s_per_iter"] = _ratio(sum(s["taskCpuNs"] for s in all_steps) / 1e9,
                                             len(all_steps))
    m["kmeans.compiles_per_iter"] = _ratio(sum(s["compileN"] for s in all_steps), len(all_steps))
    # graft.operators.TextAnalysis
    m["text.score_s"] = span_total("CurateApp.curate")
    m["text.docs_in"] = counter("text.docs_in")
    m["text.docs_kept"] = counter("text.docs_kept")
    m["text.keep_ratio"] = _ratio(m["text.docs_kept"], m["text.docs_in"])
    # graft.operators.Dedup
    for metric, name in (("exact", "dedupedCorpus"), ("shingle", "shinglesHashed"),
                         ("minhash", "minhashSignatures"), ("lsh", "lshCandidates"),
                         ("verify", "jaccardVerify"), ("survivor", "nearDedupedCorpus")):
        m[f"dedup.{metric}_s"] = span_total("Dedup." + name)
    for key in ("exact_drops", "candidate_pairs", "verified_pairs", "near_drops"):
        m["dedup." + key] = counter("dedup." + key)
    m["dedup.verify_yield"] = _ratio(m["dedup.verified_pairs"], m["dedup.candidate_pairs"])
    # Spark runtime
    cores = record["meta"]["nproc"]
    for key, field in (("jobs", "sparkJobs"), ("stages", "stages"), ("tasks", "tasks"),
                       ("task_run_s", "taskRunS"), ("task_cpu_s", "taskCpuS"),
                       ("gc_s", "taskGcS"), ("sched_delay_s", "schedDelayS"),
                       ("fetch_wait_s", "fetchWaitS"), ("shuffle_write_mb", "shuffleWriteMb"),
                       ("spill_mb", "spillMb"), ("compile_n", "compileN"),
                       ("compile_s", "compileS"), ("plan_s", "planS"),
                       ("tasks_failed", "tasksFailed"), ("stages_retried", "stagesRetried")):
        m["spark." + key] = _mean(j[field] for j in plain)
    m["spark.driver_s"] = _mean(driver_s(j) for j in plain)
    m["spark.slot_busy"] = slot_busy(plain, cores)
    # JVM
    m["jvm.gc_s"] = _mean(j["jvmGcS"] for j in plain)
    m["jvm.live_heap_mb"] = median([j["liveHeapMb"] for j in plain])
    # self time per layer, what no top-level span covers, tracing cost
    for layer in LAYERS:
        total = 0.0
        for s in spans:
            if s["layer"] == layer:
                kids = sum(dur(c) for c in by_job.get(s["job"], []) if c["parent"] == s["id"])
                total += dur(s) - kids
        m[f"self.{layer}_s"] = total / nt
    m["unattributed_s"] = _mean(
        j["wallS"] - union_length(
            [(s["startMs"], s["endMs"]) for s in by_job.get(j["index"], []) if s["parent"] < 0],
            j["startMs"], j["endMs"]) / 1e3
        for j in traced)
    m["trace_overhead_s"] = (median([j["wallS"] for j in traced])
                             - median([j["wallS"] for j in plain])) if traced else 0.0
    m["failed_ratio"] = failed_ratio(record)
    return m
