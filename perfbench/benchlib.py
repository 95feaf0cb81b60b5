"""Statistics and checks of the benchmark, kept free of I/O so they can be
unit-tested: percentiles with a sample-count rule, the backlog-growth
detector, and the turn of one run's raw measurements into the reported
metrics."""

import math
import statistics

# name -> (unit, better); the end-to-end metrics of every workload
END_TO_END = {
    "setup_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "latency_ms.p50": ("ms", "lower"),
    "latency_ms.p80": ("ms", "lower"),
}

# name -> (unit, better); the per-layer metrics of a traced run
PER_LAYER = {
    "sources.latest_offset_ms": ("ms", "lower"),
    "sources.get_batch_ms": ("ms", "lower"),
    "sources.rows_read": ("count", "higher"),
    "sources.backlog_rows": ("count", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.trigger_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_memory_bytes": ("bytes", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.rows_dropped_by_watermark": ("count", "lower"),
    "streaming.sink_files": ("count", "lower"),
    "streaming.sink_bytes": ("bytes", "lower"),
    "plan.construct_ms": ("ms", "lower"),
    "plan.construct_jobs": ("count", "lower"),
    "plan.analysis_ms": ("ms", "lower"),
    "plan.optimization_ms": ("ms", "lower"),
    "plan.planning_ms": ("ms", "lower"),
    "plan.share": ("ratio", "lower"),
    "exec.ms": ("ms", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_ms": ("ms", "lower"),
    "exec.task_cpu_ms": ("ms", "lower"),
    "exec.slot_idle_frac": ("ratio", "lower"),
    "exec.task_launch_wait_ms": ("ms", "lower"),
    "exec.exchanges": ("count", "lower"),
    "exec.shuffle_records": ("count", "lower"),
    "exec.shuffle_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.gc_ms": ("ms", "lower"),
    "exec.peak_exec_mem_bytes": ("bytes", "lower"),
    "scan.rows": ("count", "lower"),
    "scan.bytes": ("bytes", "lower"),
    "self_ms.construct": ("ms", "lower"),
    "self_ms.plan": ("ms", "lower"),
    "self_ms.execute": ("ms", "lower"),
    "self_ms.spark_job": ("ms", "lower"),
    "trace.unaccounted_ms": ("ms", "lower"),
    "trace.operations": ("count", "higher"),
}

MIN_BEYOND = 10
TAILS = (50, 80)


class TooFewSamples(ValueError):
    pass


def percentile(values, q):
    """The q-th percentile (0 < q < 100, linear interpolation), reported
    only when at least ten samples lie beyond it."""
    xs = sorted(values)
    beyond = sum(1 for x in xs if x > _interp(xs, q)) if xs else 0
    if len(xs) * (100 - q) / 100.0 < MIN_BEYOND or beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} needs {MIN_BEYOND} samples beyond it; have {len(xs)} samples")
    return _interp(xs, q)


def _interp(xs, q):
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def backlog_grows(series, rows_per_s, tolerance_s=1.0):
    """True when a live phase's backlog trends upward: the median backlog
    over the last third of the batches exceeds the median over the first
    third by more than `tolerance_s` seconds of input. `series` is a list
    of (time_ms, backlog_rows) pairs in time order."""
    if len(series) < 6:
        return False
    k = len(series) // 3
    first = statistics.median(b for _, b in series[:k])
    last = statistics.median(b for _, b in series[-k:])
    return last - first > tolerance_s * rows_per_s


def batch_metrics(res, launch_ms):
    """Metrics, failures and details of a sql_serve / dedup_batch run."""
    ops = res["ops"]
    timed = [o for o in ops if not o["cold"]]
    lat = [o["end_ms"] - o["start_ms"] for o in timed]
    window_s = (res["measured_end_ms"] - res["setup_end_ms"]) / 1000.0
    ok = sum(1 for o in timed if o["ok"])
    passes = {}
    for o in timed:
        passes.setdefault(o["pass"], []).append(o)
    per_pass = sorted((max(o["end_ms"] for o in p) - min(o["start_ms"] for o in p)) / 1000.0
                      for p in passes.values() if len(p) == res["queries_per_pass"])
    errors = sorted({f'{o["query"]}: {o["error"]}' for o in ops if not o["ok"]})
    metrics = {
        # input tables are generated once per build; that is not set-up
        "setup_s": (res["setup_end_ms"] - launch_ms - res["datagen_ms"]) / 1000.0,
        "throughput_per_s": ok / window_s,
    }
    for q in TAILS:
        try:
            metrics[f"latency_ms.p{q}"] = percentile(lat, q)
        except TooFewSamples as e:
            errors.append(f"latency_ms.p{q}: {e}")
    failed = sum(1 for o in ops if not o["ok"])
    detail = {
        "operations": len(timed),
        "cold_operations": len(ops) - len(timed),
        "window_s": window_s,
        "wall_s": statistics.median(per_pass) if per_pass else None,
        "complete_passes": len(per_pass),
        "clients": res["clients"],
        "peak_rss_mb": res["peak_rss_mb"],
        "scale_factor": res["scale_factor"],
    }
    return metrics, len(ops), failed, errors, detail


def stream_metrics(res, launch_ms):
    """Metrics, failures and details of an ingest_stream run."""
    lat = [x for x in res["latencies_ms"] if x is not None]
    missing = len(res["latencies_ms"]) - len(lat)
    check = res["check"]
    rate = res["live_rows_per_s"]
    catchup_s = (res["catchup_end_ms"] - res["setup_end_ms"]) / 1000.0
    errors = []
    metrics = {
        "setup_s": (res["setup_end_ms"] - launch_ms) / 1000.0,
        "throughput_per_s": res["backlog_rows"] / catchup_s,
    }
    for q in TAILS:
        try:
            metrics[f"latency_ms.p{q}"] = percentile(lat, q)
        except TooFewSamples as e:
            errors.append(f"latency_ms.p{q}: {e}")
    growing = [q for q, s in res["backlog_series"].items() if backlog_grows(s, rate)]
    if growing:
        errors.append(f"backlog grows at {rate} rows/s on {', '.join(sorted(growing))}")
    if not res["drained"]:
        errors.append("live rows not committed within 30 s of the live phase's end")
    if missing:
        errors.append(f"{missing} live rows never committed")
    if check["failed"]:
        errors.append(f"sink check: {check}")
    late = res["generator_late_ms"]
    detail = {
        "catchup_s": catchup_s,
        "live_rows_per_s": rate,
        "live_rows": res["live_rows"],
        "backlog_rows": res["backlog_rows"],
        "micro_batches": len(res["batches"]),
        "peak_rss_mb": res["peak_rss_mb"],
        "generator_late_ms.max": max(late) if late else 0.0,
        "check": check,
    }
    failed = check["failed"] + missing + len(growing)
    attempted = check["rows"]
    return metrics, attempted, failed, errors, detail
