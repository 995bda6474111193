"""Tests of the event-log reader on logs the tests write themselves.

Run: ``python3 -m pytest perfbench/test_eventlog.py -q``
"""

from __future__ import annotations

import json

import pyarrow as pa
import pytest

from perfbench.eventlog import find_logs, fold_events, read_events


def _events(job_id: int, t0_ms: int) -> list[dict]:
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Submission Time": t0_ms, "Stage IDs": [job_id]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": job_id,
         "Task Metrics": {"Peak Execution Memory": 4096 * (job_id + 1)}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": job_id, "Number of Tasks": 3, "Accumulables": [
                {"Name": "internal.metrics.executorCpuTime",
                 "Value": 2_000_000_000},
                {"Name": "internal.metrics.jvmGCTime", "Value": 250},
                {"Name": "data sent to Python workers", "Value": "1000"}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id,
         "Completion Time": t0_ms + 1500},
    ]


def test_rolling_zstd_directory_in_part_order(tmp_path):
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    (log / "appstatus_local-1").write_text("")
    parts = {2: _events(1, 5_000), 1: _events(0, 1_000)}
    for n, evs in parts.items():
        text = "".join(json.dumps(e) + "\n" for e in evs)
        if n == 2:
            text += '{"Event": "SparkListenerJobSt'  # still being written
        path = str(log / f"events_{n}_local-1.zstd")
        with pa.CompressedOutputStream(path, "zstd") as out:
            out.write(text.encode())
    assert find_logs(str(tmp_path)) == [str(log)]
    jobs, execs = fold_events(read_events(str(log)))
    assert [j.job_id for j in jobs] == [0, 1]
    assert execs == []
    first = jobs[0]
    assert (first.start, first.end) == (1.0, 2.5)
    assert first.stages == 1 and first.tasks == 3
    assert first.cpu_s == pytest.approx(2.0)
    assert first.gc_s == pytest.approx(0.25)
    assert first.bytes_to_python == 1000
    assert jobs[1].peak_exec_mem == 8192


def test_plain_file_and_unsupported_codec(tmp_path):
    plain = tmp_path / "local-2"
    plain.write_text("".join(json.dumps(e) + "\n" for e in _events(7, 0)))
    jobs, _ = fold_events(read_events(str(plain)))
    assert [j.job_id for j in jobs] == [7]
    lz4 = tmp_path / "eventlog_v2_local-3"
    lz4.mkdir()
    (lz4 / "events_1_local-3.lz4").write_bytes(b"\x00")
    with pytest.raises(ValueError, match="unsupported"):
        list(read_events(str(lz4)))


def test_log_written_by_spark(tmp_path):
    """A real Spark 4 event log: rolling directory, default codec."""
    pytest.importorskip("pandas")
    from pyspark.sql import SparkSession
    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]")
             .appName("eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .getOrCreate())
    try:
        spark.range(2000).selectExpr("id % 7 AS k").groupBy("k").count() \
            .collect()
        spark.range(500, numPartitions=2).mapInPandas(
            lambda it: it, "id long").collect()
    finally:
        spark.stop()
    (log,) = find_logs(str(log_dir))
    jobs, execs = fold_events(read_events(log))
    assert len(jobs) >= 2 and len(execs) >= 2
    assert all(j.start <= j.end for j in jobs)
    assert sum(j.shuffle_write_bytes for j in jobs) > 0
    assert sum(j.bytes_to_python for j in jobs) > 0
    assert sum(j.bytes_from_python for j in jobs) > 0
    assert sum(j.tasks for j in jobs) >= 3
    # every job runs inside some SQL execution's window
    assert all(any(e.start <= j.start and j.end <= e.end for e in execs)
               for j in jobs)
