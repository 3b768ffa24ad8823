"""In-memory spans and the Spark event-log reader of the traced run.

A span is (id, name, trace, parent, start, end). Spans of one batch,
build or query share a ``trace`` id. While a span is open, the Spark jobs
submitted from the driver thread carry the span id as their job group,
so the event log attributes every job, stage and task to a span.
Spans are kept in memory; the run writes them into its report when it
ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """Span recorder; a no-op while ``enabled`` is false."""

    def __init__(self, enabled: bool, spark_context):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "trace": trace or (parent["trace"] if parent else name),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> dict[str, dict]:
    """{job group: counters} summed over the group's jobs and tasks.

    Counters: jobs, tasks, scheduler_delay_s, executor_run_s,
    executor_cpu_s, shuffle_bytes (read + written), records_read (input
    records), max_task_s, and task_busy_s (wall during which at least
    one task ran); times in seconds.
    """
    stage_group: dict[int, str] = {}
    task_iv: dict[str, list] = {}
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "tasks": 0, "scheduler_delay_s": 0.0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0,
            "shuffle_bytes": 0, "records_read": 0, "max_task_s": 0.0,
            "task_busy_s": 0.0,
        })

    # Spark writes one directory per application: rolled events_<n>_*
    # files beside an empty appstatus marker
    paths = sorted(
        (os.path.join(d, f) for d, _, files in os.walk(log_dir)
         for f in files if f.startswith("events_")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    bucket(group)["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    b = bucket(group)
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                    run = m.get("Executor Run Time", 0) / 1e3
                    deser = m.get("Executor Deserialize Time", 0) / 1e3
                    ser = m.get("Result Serialization Time", 0) / 1e3
                    getting = (
                        (info["Finish Time"] - info["Getting Result Time"]) / 1e3
                        if info.get("Getting Result Time") else 0.0
                    )
                    b["tasks"] += 1
                    b["scheduler_delay_s"] += max(0.0, dur - run - deser - ser - getting)
                    b["executor_run_s"] += run
                    b["executor_cpu_s"] += (
                        m.get("Executor CPU Time", 0)
                        + m.get("Executor Deserialize CPU Time", 0)
                    ) / 1e9
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
                    b["records_read"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0)
                    b["max_task_s"] = max(b["max_task_s"], dur)
                    task_iv.setdefault(group, []).append(
                        (info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    for group, ivs in task_iv.items():
        out[group]["task_busy_s"] = _union_len(ivs)
    return out


def group_of(rec: dict) -> str:
    return f"span-{rec['id']}"
