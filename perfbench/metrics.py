"""Turn one JVM run record into the benchmark's metrics.

The JVM side (perfbench/scala) records raw facts only: set-up timings,
one entry per round with its wall and CPU time, operation latencies and
read-back checks, and for traced rounds the spans, Spark jobs and
per-stage task sums. Every derived number is computed here, so the
arithmetic is plain Python and is pinned by test_metrics.py.
"""

import statistics

# name -> unit of every metric the benchmark reports
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "op_p50_s": "s",
    "readback_s": "s",
}

PER_LAYER = {
    "core.scan_input_mb": "MB",
    "core.scan_tasks": "count",
    "core.scan_task_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage_p50": "count",
    "spark.task_cpu_s": "s",
    "spark.task_run_s": "s",
    "spark.cpu_util": "ratio",
    "spark.driver_gap_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "queries.build_s": "s",
    "queries.sink_s": "s",
    "ops.pinned_mb_peak": "MB",
    "pipeline.flattened_s": "s",
    "pipeline.doc_rows": "count",
    "lake.append_s": "s",
    "lake.publish_s": "s",
    "lake.compact_s": "s",
    "lake.read_s": "s",
    "lake.files_written": "count",
    "lake.mb_written": "MB",
    "lake.mb_rewritten": "MB",
    "lake.live_files": "count",
    "lake.bytes_per_input_byte": "ratio",
    "ext.dedup_ingest_s": "s",
    "ext.dedup_state_compact_s": "s",
    "streaming.scd2_ingest_s": "s",
    "orchestrate.makespan_s": "s",
    "orchestrate.critical_path_s": "s",
    "orchestrate.dispatch_overhead_s": "s",
    "orchestrate.queue_wait_s": "s",
    "orchestrate.pool_busy_frac": "ratio",
    "orchestrate.retries": "count",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "jvm.peak_rss_mb": "MB",
    "jvm.peak_heap_mb": "MB",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}

# spans whose summed duration is a per-layer time metric
SPAN_TIMES = {
    "queries.build_s": "queries.build",
    "queries.sink_s": "queries.sink",
    "pipeline.flattened_s": "pipeline.flattened",
    "lake.append_s": "lake.append",
    "lake.publish_s": "lake.publish",
    "lake.compact_s": "lake.compact",
    "lake.read_s": "lake.read",
    "ext.dedup_ingest_s": "ext.dedup_ingest",
    "ext.dedup_state_compact_s": "ext.dedup_state_compact",
    "streaming.scd2_ingest_s": "streaming.scd2_ingest",
}

# checks whose row count is the number of payment documents built
DOC_CHECKS = ("payment_documents", "q10_flagship_document")


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n, beyond=10, candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """Highest candidate percentile with at least `beyond` of `n` samples
    above it, or None when even the median has fewer."""
    for p in candidates:
        if round(n * (100.0 - p) / 100.0, 9) >= beyond:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(1, -(-len(xs) * p // 100))
    return xs[int(min(k, len(xs))) - 1]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals`, optionally clipped to [lo, hi]."""
    cut = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            cut.append((a, b))
    total, end = 0.0, None
    for a, b in sorted(cut):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """span id -> duration minus the time its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def critical_path(durations, deps):
    """Longest dependency chain through a DAG, summing job durations.
    `durations`: job -> seconds; `deps`: job -> iterable of jobs."""
    memo = {}

    def finish(j):
        if j not in memo:
            memo[j] = durations.get(j, 0.0) + max(
                (finish(d) for d in deps.get(j, ())), default=0.0)
        return memo[j]

    return max((finish(j) for j in durations), default=0.0)


def cpu_util(task_cpu_s, wall_s, cores):
    """Share of the cores' time spent in task CPU."""
    return task_cpu_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def driver_gap(spans, jobs):
    """Time inside top-level spans during which no Spark job ran."""
    runs = [(j["start"], j["end"]) for j in jobs]
    return sum((s["end"] - s["start"]) - union_length(runs, s["start"], s["end"])
               for s in spans if s["parent"] == 0)


def orchestration(spans, dag, pool_threads):
    """DAG dispatch metrics summed over every `orchestrate.run_dag` span."""
    deps = {j["id"]: j["deps"] for j in dag}
    out = dict(makespan=0.0, critical=0.0, wait=0.0, busy=0.0, capacity=0.0)
    for run in (s for s in spans if s["name"] == "orchestrate.run_dag"):
        jobs = {s["name"].split(":", 1)[1]: s for s in spans
                if s["parent"] == run["id"] and s["name"].startswith("orchestrate.job:")}
        dur = {k: s["end"] - s["start"] for k, s in jobs.items()}
        makespan = run["end"] - run["start"]
        out["makespan"] += makespan
        out["critical"] += critical_path(dur, deps)
        for k, s in jobs.items():
            ready = max((jobs[d]["end"] for d in deps.get(k, ()) if d in jobs),
                        default=run["start"])
            out["wait"] += max(0.0, s["start"] - ready)
        out["busy"] += sum(dur.values())
        out["capacity"] += makespan * pool_threads
    return out


def check_rows(checks, names):
    """Row count recorded in the first check named in `names`."""
    for c in checks:
        if c["name"] in names and c["ok"]:
            return float(c["got"].split("|")[1])
    return 0.0


def layer_metrics(rnd, record):
    """Per-layer metrics of one traced round."""
    spans, jobs, stages = rnd["spans"], rnd["jobs"], rnd["stages"]
    scan = [s for s in stages if s["input_mb"] > 0]
    task_cpu = sum(s["cpu_s"] for s in stages)
    orch = orchestration(spans, record.get("dag", []), record.get("pool_threads", 1))
    selfs = self_times(spans)
    m = {
        "core.scan_input_mb": sum(s["input_mb"] for s in scan),
        "core.scan_tasks": sum(s["tasks"] for s in scan),
        "core.scan_task_s": sum(s["run_s"] for s in scan),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.tasks_per_stage_p50": median(s["tasks"] for s in stages),
        "spark.task_cpu_s": task_cpu,
        "spark.task_run_s": sum(s["run_s"] for s in stages),
        "spark.cpu_util": cpu_util(task_cpu, rnd["wall_s"], record["cores"]),
        "spark.driver_gap_s": driver_gap(spans, jobs),
        "spark.scheduler_delay_s": sum(s["sched_s"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "spark.shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
        "spark.spill_mb": sum(s["spill_mb"] for s in stages),
        "ops.pinned_mb_peak": rnd.get("pinned_mb_peak", 0.0),
        "pipeline.doc_rows": check_rows(rnd["checks"], DOC_CHECKS),
        "lake.files_written": rnd["lake"]["files_written"],
        "lake.mb_written": rnd["lake"]["mb_written"],
        "lake.mb_rewritten": rnd["lake"]["mb_rewritten"],
        "lake.live_files": rnd["lake_live_files"],
        "lake.bytes_per_input_byte": lake_ratio(rnd),
        "orchestrate.makespan_s": orch["makespan"],
        "orchestrate.critical_path_s": orch["critical"],
        "orchestrate.dispatch_overhead_s": orch["makespan"] - orch["critical"],
        "orchestrate.queue_wait_s": orch["wait"],
        "orchestrate.pool_busy_frac":
            orch["busy"] / orch["capacity"] if orch["capacity"] > 0 else 0.0,
        "orchestrate.retries": sum(o["retries"] for o in rnd["ops"]),
        "jvm.gc_s": rnd["gc_s"],
        "jvm.jit_s": rnd["jit_s"],
        "jvm.peak_rss_mb": record["peak_rss_mb"],
        "jvm.peak_heap_mb": record["peak_heap_mb"],
        "trace.unattributed_s": sum(selfs[s["id"]] for s in spans if s["parent"] == 0),
    }
    for metric, name in SPAN_TIMES.items():
        m[metric] = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
    return m


def lake_ratio(rnd):
    return rnd["lake_live_bytes"] / rnd["input_bytes"] if rnd["input_bytes"] else 0.0


def summarize(record):
    """-> (metrics, extras, correct, attempted, failed).

    `metrics` holds every end-to-end metric, or with a traced record every
    per-layer metric, as name -> (value, unit, samples). `extras` are
    reported beside them but not gated: the tail latency where the
    operation count supports one, the storage ratio, failed_frac, peak
    memory, and the host's steal and foreign CPU during the timed phase.
    """
    rounds = record["rounds"]
    plain = [r for r in rounds if not r["traced"]]
    traced = [r for r in rounds if r["traced"]]
    ops = [o for r in plain for o in r["ops"]]
    all_ops = [o for r in rounds for o in r["ops"]]
    checks = record["setup"]["checks"] + [c for r in rounds for c in r["checks"]]
    attempted = len(all_ops)
    failed = (sum(1 for o in all_ops if not o["ok"] or o["retries"] > 0)
              + sum(1 for c in checks if not c["ok"]))
    correct = bool(checks) and failed == 0
    setup = record["setup"]
    lat = [o["s"] for o in ops]

    if record["trace"]:
        per_round = [layer_metrics(r, record) for r in traced]
        metrics = {k: (median(m[k] for m in per_round), unit, len(per_round))
                   for k, unit in PER_LAYER.items() if k != "trace.overhead_s"}
        metrics["trace.overhead_s"] = (
            median(r["wall_s"] for r in traced) - median(r["wall_s"] for r in plain),
            "s", len(traced))
    else:
        metrics = {
            "setup_s": (setup["session_s"] + setup["warm_s"] + median(setup["prepare_s"]),
                        "s", len(setup["prepare_s"])),
            "wall_s": (median(r["wall_s"] for r in plain), "s", len(plain)),
            "cpu_s": (median(r["cpu_s"] for r in plain), "s", len(plain)),
            "op_p50_s": (median(lat), "s", len(lat)),
            "readback_s": (median(r["readback_s"] for r in plain), "s", len(plain)),
        }
    p = tail_percentile(len(lat))
    extras = {
        "op_tail_s": (f"p{p:g} = {percentile(lat, p):.4f} s" if p is not None
                      else f"not reported: {len(lat)} operations, a tail needs 20"),
        "lake_bytes_per_input_byte": (
            f"{median(lake_ratio(r) for r in plain):.4f}"
            if any(r["lake_live_bytes"] for r in plain) else "no lake written"),
        "failed_frac": f"{failed / attempted if attempted else 0.0:.4f}",
        "peak_rss_mb": f"{record['peak_rss_mb']:.1f}",
        "peak_heap_mb": f"{record['peak_heap_mb']:.1f}",
        "setup_parts_s": (f"session {setup['session_s']:.2f}, warm {setup['warm_s']:.2f}, "
                          "prepare " + ", ".join(f"{x:.2f}" for x in setup["prepare_s"])),
        "host_steal_s": f"{record['host']['steal_s']:.2f}",
        "host_foreign_cpu_s": f"{record['host']['foreign_s']:.2f}",
    }
    return metrics, extras, correct, attempted, failed
