"""Spark event-log parsing and job-to-span attribution.

The traced run enables an uncompressed, non-rolling event log (one JSON
object per line). From it we take, per job: submission and completion
time and the ``spark.jobGroup.id`` property; per task: executor run
time, executor CPU time, shuffle bytes and input bytes, summed up to the
job through the job's stage list.

Jobs a streaming query runs on its own thread do not inherit the
caller's job group: Spark gives them the query's run id as group. A span
marked ``window`` therefore also owns the jobs of its ``extra_groups``
and any job whose group belongs to no span, when the job was submitted
inside the span's wall-clock window (one client, so nothing else runs).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from harness import union_length


@dataclass
class JobStats:
    job_id: int
    group: str | None = None
    submit_ms: float = 0.0
    complete_ms: float = 0.0
    stage_ids: list[int] = field(default_factory=list)
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0


def parse_event_log(lines) -> dict[int, JobStats]:
    """Job id → JobStats from an iterable of event-log lines."""
    jobs: dict[int, JobStats] = {}
    stage_to_jobs: dict[int, list[int]] = {}
    tasks_by_stage: dict[int, list[dict]] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            js = JobStats(
                job_id=jid,
                group=props.get("spark.jobGroup.id"),
                submit_ms=float(ev.get("Submission Time", 0)),
                stage_ids=list(ev.get("Stage IDs", [])),
            )
            jobs[jid] = js
            for sid in js.stage_ids:
                stage_to_jobs.setdefault(sid, []).append(jid)
        elif kind == "SparkListenerJobEnd":
            js = jobs.get(ev["Job ID"])
            if js is not None:
                js.complete_ms = float(ev.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            tasks_by_stage.setdefault(ev["Stage ID"], []).append(
                ev.get("Task Metrics") or {}
            )
    for sid, metrics in tasks_by_stage.items():
        owners = stage_to_jobs.get(sid, [])
        if not owners:
            continue
        # a stage shared by several jobs ran once, in the first of them
        js = jobs[min(owners)]
        for m in metrics:
            js.tasks += 1
            js.run_ms += float(m.get("Executor Run Time", 0))
            js.cpu_ms += float(m.get("Executor CPU Time", 0)) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            js.shuffle_read_bytes += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0)
            )
            sw = m.get("Shuffle Write Metrics") or {}
            js.shuffle_write_bytes += int(sw.get("Shuffle Bytes Written", 0))
            im = m.get("Input Metrics") or {}
            js.input_bytes += int(im.get("Bytes Read", 0))
    return jobs


def read_event_log(path: str) -> dict[int, JobStats]:
    with open(path) as f:
        return parse_event_log(f)


def attribute_jobs(spans, jobs: dict[int, JobStats]) -> dict[int, list[int]]:
    """Span id → ids of the jobs it owns: jobs in its own job group or in
    one of its ``extra_groups``, plus, for ``window`` spans, jobs of no
    known group submitted inside the span's window."""
    by_group: dict[str, list[int]] = {}
    for js in jobs.values():
        if js.group is not None:
            by_group.setdefault(js.group, []).append(js.job_id)
    known = {s.group for s in spans if s.group}
    for s in spans:
        known.update(s.extra_groups)
    out: dict[int, list[int]] = {}
    for s in spans:
        owned = set(by_group.get(s.group, []))
        for g in s.extra_groups:
            owned.update(by_group.get(g, []))
        if s.window:
            lo, hi = s.start * 1000.0, s.end * 1000.0
            for js in jobs.values():
                if js.group not in known and lo <= js.submit_ms <= hi:
                    owned.add(js.job_id)
        out[s.sid] = sorted(owned)
    return out


def driver_seconds(span, job_stats: list[JobStats]) -> float:
    """Span wall minus the union of its jobs' [submit, complete] intervals:
    the time the driver spent outside any Spark job (planning, py4j,
    Python and the commit protocol's file I/O)."""
    busy = union_length(
        [(j.submit_ms / 1000.0, j.complete_ms / 1000.0) for j in job_stats],
        span.start,
        span.end,
    )
    return span.seconds - busy
