"""Request spans, Spark job-group tagging and event-log counters.

Every request the benchmark sends runs inside `Recorder.request(kind)`,
which records its wall-clock span. When tracing is on, the span also
tags the request's Spark jobs with a job group of its own
(`SparkContext.setJobGroup`), and the session writes an uncompressed
event log; `event_counters` then reads that log after the session
stops and sums `SparkListenerTaskEnd` metrics per span. Jobs started
from other threads lose the thread-local job group, so an untagged job
or stage is attributed to the span its submission time falls in.
"""

from __future__ import annotations

import itertools
import json
import os
import resource
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

# the Spark counters reported per request kind; all but the last two
# are deterministic for a given plan and input
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "executor_cpu_s",
    "gc_s",
    "driver_gap_s",
)
DETERMINISTIC = COUNTERS[:7]


def event_log_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that make the session write one plain-JSON
    event log file under `log_dir`."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file:{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


@dataclass
class Span:
    kind: str
    group: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    """Keeps the spans of one run in memory; `tag` turns job groups on.
    Requests may run on several threads at once: a job group is local to
    the thread that sets it."""

    spark: object
    tag: bool
    spans: list[Span] = field(default_factory=list)
    _ids: Iterator[int] = field(default_factory=itertools.count)

    @contextmanager
    def request(self, kind: str) -> Iterator[Span]:
        span = Span(kind, f"{kind}#{next(self._ids)}", 0.0)
        sc = self.spark.sparkContext
        if self.tag:
            sc.setJobGroup(span.group, kind)
        span.start = time.time()
        try:
            yield span
        finally:
            span.end = time.time()
            if self.tag:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(span)


def timed(fn, *args):
    """(result, seconds) of one call."""
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Python high-water RSS plus the JVM's (VmHWM), in MiB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _find_span(spans: list[Span], group: str | None, t_ms: int) -> int | None:
    if group:
        for i, s in enumerate(spans):
            if s.group == group:
                return i
        return None
    t = t_ms / 1000.0
    for i, s in enumerate(spans):
        if s.start <= t <= s.end:
            return i
    return None


def event_counters(log_dir: str, spans: list[Span]) -> list[dict[str, float]]:
    """Per-span Spark counters (`COUNTERS`) from the one event log file
    in `log_dir`."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    out = [dict.fromkeys(COUNTERS, 0.0) for _ in spans]
    job_windows: list[list[tuple[float, float]]] = [[] for _ in spans]
    job_of: dict[int, tuple[int, float]] = {}
    stage_of: dict[tuple[int, int], int] = {}
    with open(os.path.join(log_dir, name), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                i = _find_span(spans, group, ev["Submission Time"])
                if i is not None:
                    out[i]["jobs"] += 1
                    job_of[ev["Job ID"]] = (i, ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_of:
                i, t0 = job_of.pop(ev["Job ID"])
                job_windows[i].append((t0, ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                i = _find_span(spans, group, info.get("Submission Time", 0))
                if i is not None:
                    out[i]["stages"] += 1
                    stage_of[(info["Stage ID"], info["Stage Attempt ID"])] = i
            elif kind == "SparkListenerTaskEnd":
                i = stage_of.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                m = ev.get("Task Metrics")
                if i is None or not m:
                    continue
                c = out[i]
                c["tasks"] += 1
                c["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                r = m["Shuffle Read Metrics"]
                c["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
                c["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                c["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                c["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                c["gc_s"] += m["JVM GC Time"] / 1000.0
    for i, span in enumerate(spans):
        busy, cursor = 0.0, span.start
        for a, b in sorted(job_windows[i]):
            a, b = max(a, cursor), min(b, span.end)
            if b > a:
                busy += b - a
                cursor = b
        out[i]["driver_gap_s"] = max(span.wall - busy, 0.0)
    return out
