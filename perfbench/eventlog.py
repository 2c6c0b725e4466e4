"""Spark event-log reader, standard library only.

Reads an uncompressed event log (a single file, or a rolling
``eventlog_v2_<app>`` directory of ``events_<n>_<app>`` files) and turns
it into per-job-group rows: jobs, executor CPU, GC, shuffle, spill and
task-time skew. The traced session sets ``spark.eventLog.compress=false``
because the default codec (zstd) has no standard-library decoder.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

_COMPRESSED = (".zstd", ".lz4", ".snappy", ".lzf", ".zst")
_ROLLING_FILE = re.compile(r"events_(\d+)_")


def log_files(path: str) -> list[str]:
    """The files of one application's log, in write order."""
    if os.path.isfile(path):
        files = [path]
    else:
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        names.sort(key=lambda n: int(_ROLLING_FILE.match(n).group(1)))
        files = [os.path.join(path, n) for n in names]
    for f in files:
        if f.endswith(_COMPRESSED):
            raise ValueError(f"compressed event log {f}: set spark.eventLog.compress=false")
    return files


def find_app_logs(log_dir: str) -> list[str]:
    """Every application log directly under ``log_dir``."""
    return sorted(
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.startswith(".") and not n.endswith(".inprogress")
    )


def read_events(path: str):
    for f in log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except ValueError:  # a torn last line of a log still being written
                    continue


@dataclass
class GroupStats:
    """Job metrics of one job group (one span)."""

    jobs: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    tasks: int = 0
    #: task run times (ms) per stage id, for the skew figure
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    @property
    def skew(self) -> float:
        """max / median task time of the stage with the most task time
        (1.0 when the group ran no task)."""
        if not self.stage_task_ms:
            return 1.0
        times = max(self.stage_task_ms.values(), key=sum)
        return max(times) / max(statistics.median(times), 1.0)


_MB = 1024.0 * 1024.0


def _covering(windows, t_ms: float) -> str:
    inside = [w for w in windows if w[1] <= t_ms <= w[2]]
    return max(inside, key=lambda w: w[1])[0] if inside else ""


def job_group_stats(events, windows=()) -> dict[str, GroupStats]:
    """Aggregate task metrics by ``spark.jobGroup.id``.

    A job submitted from a thread that did not inherit the group (a
    thread pool inside the engine) goes to the innermost of ``windows``
    — ``(group, start_ms, end_ms)`` in epoch milliseconds — that covers
    its submission time. Jobs in neither land under the empty string."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or _covering(windows, ev.get("Submission Time", 0))
            out.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            st = out.setdefault(group, GroupStats())
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            st.tasks += 1
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            st.shuffle_mb += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            ) / _MB
            st.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
            ms = max(int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)), 0)
            st.stage_task_ms.setdefault(ev["Stage ID"], []).append(ms)
    return out
