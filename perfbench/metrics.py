"""Turns the benchmark JVM's raw samples into the metrics it reports.

Kept free of I/O so the self-tests in test_perfbench.py can drive it.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")

READS = ("point", "range_agg", "time_travel", "index_probe")

# End-to-end metrics: name -> unit. Printed on every workload with --trace 0.
END_TO_END = {
    "setup_s": "s",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
    "class_geomean_ms": "ms",
    "throughput_sps": "1/s",
}

# Per-layer metrics: name -> unit. Printed on every workload with --trace 1.
# The JVM's Probe emits all but the trace.* ones, which come from comparing
# the traced and untraced operations of the traced run's window.
PER_LAYER = {
    "jvm.heap_live_mb": "MB",
    "server.native.wire_ms": "ms",
    "server.pgwire.wire_ms": "ms",
    "server.http.wire_ms": "ms",
    "server.http.session_clone_ms": "ms",
    "server.pgwire.bytes_per_row": "B",
    "server.http.bytes_per_row": "B",
    "sdk.conn_reuse_ratio": "ratio",
    "engine.execute_ms.point": "ms",
    "engine.execute_ms.range_agg": "ms",
    "engine.execute_ms.time_travel": "ms",
    "engine.execute_ms.index_probe": "ms",
    "engine.execute_ms.insert": "ms",
    "engine.execute_ms.batch": "ms",
    "engine.execute_ms.update": "ms",
    "engine.execute_ms.delete": "ms",
    "engine.execute_ms.merge": "ms",
    "engine.facade_ms": "ms",
    "engine.refresh_ms": "ms",
    "engine.registry_entries": "count",
    "plan.parse_ms": "ms",
    "plan.analyze_ms": "ms",
    "plan.optimize_ms": "ms",
    "plan.physical_ms": "ms",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "sched.floor_ms": "ms",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.queue_ms": "ms",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.par": "ratio",
    "commit.data_mb": "MB",
    "commit.files_rewritten": "count",
    "commit.manifest_kb": "kB",
    "commit.iceberg_kb": "kB",
    "commit.snapshot_kb": "kB",
    "commit.index_kb": "kB",
    "commit.cdc_events": "count",
    "commit.write_amp": "ratio",
    "commit.space_amp": "ratio",
    "commit.snapshot_ms": "ms",
    "commit.publish_ms": "ms",
    "commit.cdc_emit_ms": "ms",
    "commit.iceberg_ms": "ms",
    "commit.index_sync_ms": "ms",
    "commit.astha_lag_events": "count",
    "trace.overhead_class_geomean": "ratio",
    "trace.overhead_throughput": "ratio",
}


def _rank(n, permille):
    """1-based nearest rank of the permille-th percentile of n samples."""
    return max(1, -(-permille * n // 1000))


def tail_percentile(n):
    """The highest percentile with at least ten samples beyond it.

    Tries 99.9, 99, 95, 90, 75 and 50, and returns None when even the
    median has fewer than ten samples above it.
    """
    for pm in (999, 990, 950, 900, 750, 500):
        if n - _rank(n, pm) >= 10:
            return pm / 10.0
    return None


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[_rank(len(s), round(p * 10)) - 1]


def geomean(values):
    if not values or any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summarize(raw, tail=True):
    """(metrics, details) from one window's raw samples.

    A traced run's windows are summarized with tail=False: they are
    compared by their medians only.
    """
    ops = [o for o in raw["ops"] if o[3]]
    if raw["info"]["workload"] == "suite":
        reads = [o[2] for o in ops]
    else:
        reads = [o[2] for o in ops if o[0] in READS]
    if not reads:
        raise ValueError("no successful read in the window")
    by_class = {}
    for cls, _tier, ms, _ok in ops:
        by_class.setdefault(cls, []).append(ms)
    # the percentile rests on the count every run is guaranteed to reach,
    # so it does not change with how many reads one run happened to fit
    floor = raw["min_samples"]
    if len(reads) < floor:
        raise ValueError(f"{len(reads)} reads, fewer than the guaranteed {floor}")
    tail_p = tail_percentile(floor) if tail else None
    if tail and tail_p is None:
        raise ValueError(f"{floor} reads are too few for a tail percentile")
    metrics = {
        "setup_s": statistics.median(raw["setup_s"]),
        "read_p50_ms": statistics.median(reads),
        "read_tail_ms": percentile(reads, tail_p) if tail else None,
        "class_geomean_ms": geomean([statistics.median(v) for v in by_class.values()]),
        "throughput_sps": len(raw["ops"]) / raw["window_s"],
    }
    details = {
        "read_samples": len(reads),
        "read_tail_percentile": tail_p,
        "class_p50_ms": {c: round(statistics.median(v), 3) for c, v in sorted(by_class.items())},
        "class_samples": {c: len(v) for c, v in sorted(by_class.items())},
    }
    return metrics, details


def layers(raw):
    """Per-layer metrics of a traced run, with the tracing overhead.

    The traced and untraced operations share one window (every other
    rotation of classes, or pass, is traced), so JVM warm-up drift
    falls on both alike.
    """
    out = dict(raw["layers"], **{"jvm.heap_live_mb": raw["info"]["heap_live_mb"]})
    traced = dict(raw, ops=raw["traced_ops"])
    base, _ = summarize(raw, tail=False)
    with_trace, _ = summarize(traced, tail=False)
    # per-class medians: a window's mix of classes does not move the figure
    out["trace.overhead_class_geomean"] = with_trace["class_geomean_ms"] / base["class_geomean_ms"] - 1.0
    # closed-loop clients lose throughput as their mean latency rises
    out["trace.overhead_throughput"] = (statistics.mean(o[2] for o in raw["traced_ops"] if o[3]) /
                                        statistics.mean(o[2] for o in raw["ops"] if o[3]) - 1.0)
    missing = sorted(set(PER_LAYER) - set(out))
    if missing:
        raise ValueError(f"layers not measured: {missing}")
    return {k: out[k] for k in PER_LAYER}


def result(raw, trace):
    """The benchmark's last output line as a dict."""
    attempted = len(raw["ops"]) + len(raw["traced_ops"])
    failed = sum(1 for o in raw["ops"] + raw["traced_ops"] if not o[3])
    correct = failed == 0 and all(c["ok"] for c in raw["checks"]) and bool(raw["checks"])
    if trace:
        values, units = layers(raw), PER_LAYER
    else:
        values, units = summarize(raw)[0], END_TO_END
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
