"""Fold a Spark event log into per-job-group metrics.  Stdlib only.

Spark writes one JSON object per line.  Three event kinds carry what the
benchmark reports:

- ``SparkListenerJobStart`` / ``SparkListenerJobEnd``: the job's group
  (``Properties["spark.jobGroup.id"]``), its stage ids, and its wall time;
- ``SparkListenerStageCompleted``: stage wall time and task count, used for
  ``job_floor_s`` (job wall minus its longest stage) and for counting
  skipped stages (listed by a job, never run);
- ``SparkListenerTaskEnd``: executor run and CPU time, GC time, shuffle
  bytes written, disk spill, output bytes and the task's end reason.

:func:`fold` returns ``{key: {metric: value}}`` with the metric names the
benchmark prints under ``spark.``.  By default the key is the job group, and
jobs without a group fold under ``""``.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Hashable, Iterable, Iterator

MB = 1024.0 * 1024.0

METRICS = (
    "jobs",
    "stages",
    "skipped_stages",
    "tasks",
    "failed_tasks",
    "job_wall_s",
    "job_floor_s",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
)


def read_events(path: str) -> Iterator[dict]:
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


class _Job:
    __slots__ = ("key", "stage_ids", "start", "ran", "longest")

    def __init__(self, key: Hashable, stage_ids: list[int], start: int) -> None:
        self.key = key
        self.stage_ids = set(stage_ids)
        self.start = start
        self.ran: set[int] = set()
        self.longest = 0


def empty() -> dict[str, float]:
    return {m: 0.0 for m in METRICS}


def job_group(props: dict) -> str:
    return props.get("spark.jobGroup.id") or ""


def fold(
    events: Iterable[dict], key: Callable[[dict], Hashable] = job_group
) -> dict[Hashable, dict[str, float]]:
    """Fold events into ``{key(job properties): metrics}`` (see the module
    docstring)."""
    jobs: dict[int, _Job] = {}
    active: list[int] = []
    stage_job: dict[int, int] = {}
    out: dict[Hashable, dict[str, float]] = {}

    def acc(k: Hashable) -> dict[str, float]:
        return out.setdefault(k, empty())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job = _Job(key(ev.get("Properties") or {}), ev.get("Stage IDs", []),
                       ev.get("Submission Time", 0))
            jobs[jid] = job
            active.append(jid)
            for sid in job.stage_ids:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            # a shuffle stage reused by a later job runs for the job that
            # submits it: the newest active job listing it
            for jid in reversed(active):
                if sid in jobs[jid].stage_ids:
                    stage_job[sid] = jid
                    break
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            jid = stage_job.get(info["Stage ID"])
            if jid is None:
                continue
            job = jobs[jid]
            job.ran.add(info["Stage ID"])
            span = (info.get("Completion Time") or 0) - (info.get("Submission Time") or 0)
            job.longest = max(job.longest, span)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            m = acc(jobs[jid].key if jid is not None else key({}))
            m["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                m["failed_tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
            m["shuffle_write_mb"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            )
            m["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            job = jobs.get(jid)
            if job is None:
                continue
            if jid in active:
                active.remove(jid)
            wall = max(ev.get("Completion Time", job.start) - job.start, 0)
            m = acc(job.key)
            m["jobs"] += 1
            m["stages"] += len(job.ran)
            m["skipped_stages"] += len(job.stage_ids - job.ran)
            m["job_wall_s"] += wall / 1e3
            m["job_floor_s"] += max(wall - job.longest, 0) / 1e3
    return out


def job_intervals(events: Iterable[dict]) -> dict[str, list[tuple[float, float]]]:
    """``{job group: [(start_s, end_s), ...]}`` in epoch seconds, for the
    span tree and for ``driver.self_s``."""
    starts: dict[int, tuple[str, int]] = {}
    out: dict[str, list[tuple[float, float]]] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            starts[ev["Job ID"]] = (job_group(ev.get("Properties") or {}),
                                    ev.get("Submission Time", 0))
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in starts:
            group, t0 = starts.pop(ev["Job ID"])
            out.setdefault(group, []).append((t0 / 1e3, ev.get("Completion Time", t0) / 1e3))
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
