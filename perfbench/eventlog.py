"""Spark JSON event log → per-statement job, stage and task metrics.

Reads the local event log Spark writes with ``spark.eventLog.enabled``
in Spark 4's default layout: a rolling directory
``eventlog_v2_<app>/events_<n>_<app>.zstd`` (plain ``events_*`` files
read as they are), one JSON event per line; a torn last line is
skipped. Jobs are keyed by their
``(spark.jobGroup.id, spark.job.description)`` properties: the engine
tags every statement's jobs ``(session id, "stmt-N")``, and the
benchmark tags the jobs it runs itself the same way.
"""

from __future__ import annotations

import json
import os

_MB = 1024 * 1024
FIELDS = ("jobs", "stages", "tasks", "sched_delay_s", "executor_run_s",
          "executor_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
          "spill_mb")


def _files(path: str) -> list[str]:
    """The event-log files of every application under ``path``, each
    application's in roll order."""
    out = []
    for app in sorted(os.listdir(path)):
        full = os.path.join(path, app)
        if not (app.startswith("eventlog_v2_") and os.path.isdir(full)):
            continue
        rolled = [f for f in os.listdir(full) if f.startswith("events_")]
        rolled.sort(key=lambda f: int(f.split("_")[1]))
        out += [os.path.join(full, f) for f in rolled]
    return out


def _lines(name: str):
    if not name.endswith(".zstd"):
        with open(name, "rb") as f:
            yield from f
        return
    import pyarrow as pa

    chunks = []
    with pa.CompressedInputStream(pa.OSFile(name), "zstd") as f:
        while True:
            try:
                chunk = f.read(1 << 20)
            except (OSError, pa.ArrowException):
                break  # a log still being written ends in a torn frame
            if not chunk:
                break
            chunks.append(chunk)
    yield from b"".join(chunks).splitlines()


def _events(path: str):
    for name in _files(path):
        for line in _lines(name):
            try:
                ev = json.loads(line)
            except (json.JSONDecodeError, UnicodeDecodeError):
                continue
            if isinstance(ev, dict):
                yield ev


def parse(path: str) -> dict[tuple[str | None, str | None], dict]:
    """{(job group, job description): {field: value}} over ``FIELDS``."""
    stage_key: dict[int, tuple] = {}
    out: dict[tuple, dict] = {}

    def rec(key):
        if key not in out:
            out[key] = dict.fromkeys(FIELDS, 0)
        return out[key]

    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = (props.get("spark.jobGroup.id"),
                   props.get("spark.job.description"))
            rec(key)["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info") or {}
            key = stage_key.get(info.get("Stage ID"))
            if key is not None:
                rec(key)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            if key is None:
                continue
            r = rec(key)
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            r["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            # the Spark UI's scheduler delay
            delay = (duration - run_ms - m.get("Executor Deserialize Time", 0)
                     - m.get("Result Serialization Time", 0)
                     - info.get("Getting Result Time", 0))
            r["sched_delay_s"] += max(0, delay) / 1000
            r["executor_run_s"] += run_ms / 1000
            r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1000
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
            r["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    return out
