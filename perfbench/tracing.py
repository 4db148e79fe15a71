"""Spans, Spark event-log counters and process-tree memory.

Spans are recorded around the benchmark's own calls into the program;
nothing inside the program is instrumented. Each span carries the id of
its parent and is tagged onto the Spark jobs it launches through a
thread-local Spark property, so the event log attributes jobs, stages
and tasks to spans. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """In-memory span recorder. ``spark`` may be None (no job tagging)."""

    def __init__(self, spark=None):
        self._sc = spark.sparkContext if spark is not None else None
        self._t0 = time.monotonic()
        self._stack: list[int] = []
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.monotonic() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic() - self._t0
            self._stack.pop()
            self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, sid: int | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty(
                SPAN_PROPERTY, None if sid is None else str(sid)
            )


def duration(span: dict) -> float:
    return span["end"] - span["start"]


# --- Spark event log ---------------------------------------------------------

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_s",
    "executor_cpu_s",
    "scheduler_delay_s",
)


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session conf that turns Spark's own event log on, uncompressed."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_eventlog(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def span_counters(events: list[dict]) -> dict[int, dict[str, float]]:
    """Per-span totals of the ``COUNTERS`` over the jobs each span
    launched. A stage shared by several jobs counts once, for the first.
    Scheduler delay is computed per task the way Spark's UI does."""
    job_span: dict[int, int] = {}
    stage_span: dict[int, int] = {}
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
        if sid is None:
            continue
        job_span[ev["Job ID"]] = int(sid)
        for st in ev.get("Stage IDs", []):
            stage_span.setdefault(st, int(sid))
    out: dict[int, dict[str, float]] = {}

    def acc(sid: int) -> dict[str, float]:
        return out.setdefault(sid, dict.fromkeys(COUNTERS, 0))

    for sid in job_span.values():
        acc(sid)["jobs"] += 1
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = stage_span.get(ev["Stage Info"]["Stage ID"])
            if sid is not None:
                acc(sid)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = stage_span.get(ev["Stage ID"])
            if sid is None:
                continue
            c = acc(sid)
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            c["tasks"] += 1
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["scheduler_delay_s"] += _scheduler_delay_ms(info, m) / 1e3
    return out


def _scheduler_delay_ms(info: dict, m: dict) -> float:
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    getting_ms = finish - getting if getting > 0 else 0
    busy = (
        m.get("Executor Run Time", 0)
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
    )
    return max(0, finish - launch - busy - getting_ms)


def sum_counters(per_span: dict[int, dict], sids) -> dict[str, float]:
    total = dict.fromkeys(COUNTERS, 0)
    for sid in sids:
        for k, v in per_span.get(sid, {}).items():
            total[k] += v
    return total


# --- processes and host -----------------------------------------------------------


def process_tree(pid: int) -> list[int]:
    """The live descendants of ``pid``."""
    children: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we walked
        children.setdefault(ppid, []).append(int(stat.split("/")[2]))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies: user, nice, system, idle, iowait, irq,
    softirq, steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time taken by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def tree_peak_rss_mb() -> list[tuple[str, float]]:
    """Peak resident set size (VmHWM) of this process and each live
    descendant (the JVM and the Python workers), as
    (command name, MB)."""
    out = []
    for pid in [os.getpid(), *process_tree(os.getpid())]:
        fields = _status(pid)
        if "VmHWM" in fields:
            out.append((fields["Name"], int(fields["VmHWM"].split()[0]) / 1024))
    return out


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return dict(
                line.rstrip("\n").split(":\t", 1) for line in fh if ":\t" in line
            )
    except OSError:
        return {}
