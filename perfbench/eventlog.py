"""Reader for Spark's JSON event log, as Spark 4 writes it.

Spark 4 rolls the log into a directory ``eventlog_v2_<app-id>/`` of
``events_<n>_<app-id>[.zstd]`` files (zstd is the default codec) next to
an ``appstatus`` marker; a plain single file is the pre-rolling layout.
Both are read here with the installed ``pyarrow``, so no Spark history
server is needed. Only uncompressed and zstd logs are supported: Spark's
lz4 and snappy codecs are block streams that pyarrow cannot decode.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

import pyarrow as pa

__all__ = ["Job", "Execution", "read_events", "find_logs",
           "fold_events"]

_PART = re.compile(r"^events_(\d+)_")


def _open(path: str):
    if path.endswith(".zstd") or path.endswith(".zst"):
        return pa.CompressedInputStream(pa.OSFile(path), "zstd")
    if path.endswith((".lz4", ".lzf", ".snappy")):
        raise ValueError(f"unsupported event-log codec: {path}")
    return pa.OSFile(path)


def _log_files(log: str) -> list[str]:
    if os.path.isfile(log):
        return [log]
    parts = []
    for name in os.listdir(log):
        m = _PART.match(name)
        if m:
            parts.append((int(m.group(1)), os.path.join(log, name)))
    return [p for _n, p in sorted(parts)]


def find_logs(log_dir: str) -> list[str]:
    """Event logs under ``log_dir``, oldest first (one per application)."""
    found = []
    for name in os.listdir(log_dir):
        if name.startswith(".") or name.endswith(".crc"):
            continue
        found.append(os.path.join(log_dir, name))
    return sorted(found, key=os.path.getmtime)


def read_events(log: str):
    """Yield the event dicts of one application log (file or rolling
    directory), in order. A truncated last line, as an application that
    is still running leaves it, is skipped."""
    for path in _log_files(log):
        with _open(path) as stream:
            data = stream.read()
        for line in data.decode("utf-8").splitlines():
            if not line:
                continue
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


@dataclass
class Job:
    """One Spark job with its stages' summed task metrics."""
    job_id: int
    start: float          # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0    # executor run time
    cpu_s: float = 0.0    # executor CPU time
    gc_s: float = 0.0
    spill_bytes: int = 0  # memory + disk spill
    shuffle_write_bytes: int = 0
    bytes_to_python: int = 0
    bytes_from_python: int = 0
    peak_exec_mem: int = 0  # largest single-task peak execution memory
    stage_ids: list = field(default_factory=list)


@dataclass
class Execution:
    """One SQL execution (an action on a DataFrame): its window also
    covers the driver's planning between the jobs it submits."""
    exec_id: int
    start: float
    end: float


_SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"

_STAGE_SUMS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten":
        ("shuffle_write_bytes", 1),
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
}


def fold_events(events) -> tuple[list[Job], list[Execution]]:
    """Fold an event stream into finished jobs, with each completed
    stage's metrics added to every job that lists the stage, and
    finished SQL executions."""
    jobs: dict[int, Job] = {}
    execs: dict[int, Execution] = {}
    stage_jobs: dict[int, list[int]] = {}
    stage_metrics: dict[int, dict] = {}
    task_peak: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == _SQL + "Start":
            execs[ev["executionId"]] = Execution(ev["executionId"],
                                                 ev["time"] / 1e3, 0.0)
        elif kind == _SQL + "End" and ev["executionId"] in execs:
            execs[ev["executionId"]].end = ev["time"] / 1e3
        elif kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"] / 1e3, 0.0,
                      stage_ids=list(ev.get("Stage IDs", [])))
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_jobs.setdefault(sid, []).append(job.job_id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            peak = (ev.get("Task Metrics") or {}).get(
                "Peak Execution Memory", 0)
            sid = ev["Stage ID"]
            task_peak[sid] = max(task_peak.get(sid, 0), int(peak))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            m = {"tasks": int(info.get("Number of Tasks", 0))}
            for acc in info.get("Accumulables", []):
                spec = _STAGE_SUMS.get(acc.get("Name"))
                if spec is None:
                    continue
                attr, scale = spec
                m[attr] = m.get(attr, 0) + float(acc["Value"]) * scale
            stage_metrics[info["Stage ID"]] = m
    for sid, m in stage_metrics.items():
        for jid in stage_jobs.get(sid, []):
            job = jobs[jid]
            job.stages += 1
            for attr, v in m.items():
                cur = getattr(job, attr)
                setattr(job, attr, type(cur)(cur + v))
            job.peak_exec_mem = max(job.peak_exec_mem, task_peak.get(sid, 0))
    return (sorted((j for j in jobs.values() if j.end),
                   key=lambda j: j.start),
            sorted((e for e in execs.values() if e.end),
                   key=lambda e: e.start))
