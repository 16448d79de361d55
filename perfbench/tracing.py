"""Per-layer tracing from outside the engine, through public Spark surfaces.

Every traced call into a layer runs under its own Spark job group. Job
counts come from `StatusTracker.getJobIdsForGroup`; stages, tasks, failed
tasks, shuffle bytes and GC time come from the Spark event log, read back
after the context has stopped (the log is complete only then).
"""

from __future__ import annotations

import glob
import json
import os
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: list[str] = []
        self._n = 0

    def call(self, label: str, fn):
        """Run `fn()` under a fresh job group; returns (group, value,
        seconds)."""
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.groups.append(group)
        self.sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        return group, out, dt

    def job_counts(self) -> dict[str, int]:
        """Jobs per traced group, as the status tracker reports them. Call
        once the traced calls are done; the tracker is fed by the listener
        bus, so it waits until two reads a moment apart agree."""
        st = self.sc.statusTracker()
        prev = None
        for _ in range(50):
            cur = {g: len(st.getJobIdsForGroup(g)) for g in self.groups}
            if cur == prev:
                return cur
            prev = cur
            time.sleep(0.2)
        return prev


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages run, tasks, failed tasks, shuffle bytes
    written, bytes spilled and JVM GC milliseconds."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_ms": 0})

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                    if group is None:
                        continue
                    acc(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None:
                        acc(group)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    a = acc(group)
                    a["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        a["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    a["gc_ms"] += m.get("JVM GC Time", 0)
                    a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    a["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return out
