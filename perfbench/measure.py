"""Measuring instruments: materialisation, output digests, the span
recorder, Spark job/task status, the JSON event log and process memory.

Nothing here changes what the program computes. Every timed
materialisation is a ``noop`` write or a digest aggregate over all output
columns, never ``count()`` (which lets Catalyst prune unreferenced work).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def noop(df: DataFrame) -> None:
    """Compute every row and column of ``df`` and discard it."""
    df.write.format("noop").mode("overwrite").save()


def digest(df: DataFrame) -> tuple[int, int, int]:
    """Order-insensitive digest ``(rows, sum of murmur3, xor of xxhash64)``
    over all columns of ``df``, in one aggregate."""
    cols = [F.col(c) for c in df.columns]
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*cols).cast("long")).alias("h"),
        F.bit_xor(F.xxhash64(*cols)).alias("x"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0), int(r["x"] or 0)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


class JobGroups:
    """Runs each measured call under its own Spark job group and reads the
    group's jobs and failed tasks back from the status tracker."""

    def __init__(self, sc, prefix: str) -> None:
        self.sc = sc
        self.prefix = prefix
        self.n = 0

    def next(self, description: str) -> str:
        self.n += 1
        group = f"{self.prefix}-{self.n}"
        self.sc.setJobGroup(group, description)
        return group

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def stats(self, group: str) -> tuple[int, int]:
        """(jobs, failed tasks + failed jobs) of ``group``."""
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        failed = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            failed += info.status == "FAILED"
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    failed += stage.numFailedTasks
        return len(jobs), failed


class SpanRecorder:
    """In-memory spans ``(id, name, start, end, parent, run_id)`` around
    calls into the program. Each span runs under its own job group, so
    Spark's event log can attribute shuffle and spill bytes to it. The
    spans are written out once, at the end of the run."""

    def __init__(self, groups: JobGroups) -> None:
        self.groups = groups
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, run_id: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": run_id,
            "group": self.groups.next(name),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self.groups.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.groups.clear()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(
                s["end"] - s["start"] - child.get(s["id"], 0.0)
            )
        return out


def event_log_bytes(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: shuffle write, memory spill and disk spill bytes and
    executor run time, summed over the group's finished tasks, from
    Spark's JSON event log (read after the session stops)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    paths = sorted(
        os.path.join(r, f) for r, _d, fs in os.walk(log_dir) for f in fs
        if f.startswith("events_")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    acc = out.setdefault(
                        group,
                        {"shuffle_write": 0, "spill_memory": 0, "spill_disk": 0, "run_ms": 0},
                    )
                    acc["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc["spill_memory"] += m.get("Memory Bytes Spilled", 0)
                    acc["spill_disk"] += m.get("Disk Bytes Spilled", 0)
                    acc["run_ms"] += m.get("Executor Run Time", 0)
    return out


def _children(pid: int) -> list[int]:
    kids = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(stat.split("/")[2]))
    return kids


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``pid`` and
    every process below it."""
    ticks = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
        todo.extend(_children(p))
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of VmHWM over the Spark JVM and every process below it (the
    Python daemon and its workers)."""
    total_kb = 0
    todo = [jvm_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo.extend(_children(pid))
    return total_kb / 1024.0


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20
