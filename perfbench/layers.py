"""Metric names and units, and the per-layer numbers of a traced run."""

from __future__ import annotations

import os

from eventlog import attribute_jobs, driver_seconds, read_event_log
from harness import median

END_TO_END = {
    "setup_s": "s",
    "jobs_per_op": "count",
    "disk_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

_CALL = {"p50_ms": "ms", "jobs": "count", "tasks": "count", "driver_ms": "ms"}
_STAGE = {"ms": "ms", "jobs": "count", "exec_cpu_ms": "ms", "driver_ms": "ms"}
_SINK = {"p50_ms": "ms", "jobs": "count", "exec_cpu_ms": "ms", "driver_ms": "ms"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in output order, with its unit."""
    out: dict[str, str] = {}
    for op in ("get_fault", "get_fault_info", "get_rupture", "get_rupture_fault_info",
               "query", "most_likely_fault"):
        out.update({f"api.{op}.{k}": u for k, u in _CALL.items()})
    out["dsl.parse_query.p50_us"] = "us"
    out["plans.advanced_query.build_ms"] = "ms"
    for span in ("etl.composite_solution", "api.insert_faults", "api.insert_ruptures",
                 "api.insert_mfds"):
        out.update({f"{span}.{k}": u for k, u in _STAGE.items()})
    out.update({"ingest.db_bytes": "bytes", "ingest.db_files": "count",
                "ingest.ruptures_per_s": "1/s"})
    for op in ("append", "merge", "update", "delete", "compact",
               "read_latest", "read_as_of", "read_pruned", "changes_typed"):
        out.update({f"sinks.{op}.{k}": u for k, u in _SINK.items()})
    out.update({"sinks.commits": "count", "sinks.data_files": "count",
                "sinks.space_amp": "ratio", "sinks.read_pruned.input_frac": "ratio"})
    out.update({f"table_source.drain.{k}": u for k, u in _SINK.items()})
    out.update({"session.start_s": "s", "trace.overhead_frac": "ratio"})
    return out


def span_stats(spans, jobs) -> dict[str, list[dict]]:
    """Span name → one dict per call: wall ms, StatusTracker job and task
    counts, and from the event log executor CPU, driver-only time and
    input bytes of the jobs the span owns."""
    owned = attribute_jobs(spans, jobs)
    out: dict[str, list[dict]] = {}
    for s in spans:
        js = [jobs[j] for j in owned[s.sid] if j in jobs]
        out.setdefault(s.name, []).append({
            "ms": s.seconds * 1000.0,
            "jobs": len(s.jobs),
            "tasks": s.tasks,
            "exec_cpu_ms": sum(j.cpu_ms for j in js),
            "driver_ms": driver_seconds(s, js) * 1000.0,
            "input_bytes": sum(j.input_bytes for j in js),
        })
    return out


def per_layer(tracer, eventlog_dir: str, extra: dict) -> dict[str, float]:
    """Per-layer metrics: the median over calls of each span field, plus
    the workload's own counters in ``extra``. A layer the workload does
    not call reads 0."""
    logs = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
    jobs = read_event_log(logs[0]) if logs else {}
    stats = span_stats(tracer.spans, jobs)

    def med(span: str, field: str) -> float:
        return median([c[field] for c in stats.get(span, [])])

    out = {}
    for name in per_layer_units():
        if name in extra:
            out[name] = extra[name]
            continue
        span, _, field = name.rpartition(".")
        if field == "p50_ms" or field == "build_ms":
            out[name] = med(span, "ms")
        elif field == "p50_us":
            out[name] = med(span, "ms") * 1000.0
        elif field in ("ms", "jobs", "tasks", "exec_cpu_ms", "driver_ms"):
            out[name] = med(span, field)
        else:
            out[name] = 0.0
    if "live_bytes" in extra and extra["live_bytes"]:
        out["sinks.read_pruned.input_frac"] = (
            med("sinks.read_pruned", "input_bytes") / extra["live_bytes"]
        )
    return out
